"""Structured Streaming side of the engine.

Modules:

- :mod:`.fraud` — the reference's flagship keyed stateful processor
  (ValueState + event-time timers), with the per-key timer set kept in
  the state tuple.
- :mod:`.signal_generator` / :mod:`.trend` — the CEP signal generator and
  the sliding-window trend rule, keyed the same way.
- :mod:`.wordcount` — streaming word count in update output mode (the
  per-record-emission semantics of a Flink keyed ``reduce``).
- :mod:`.watermarks` — the engine's late-data policy, and the one keyed
  runner (``run_keyed``) that drives all three stateful machines and
  holds their event-time timer policy.

The batch twins of these operators live in
:mod:`apache_flink_pratices_spark.operators` and share business rules via
:mod:`apache_flink_pratices_spark.domain.rules`.
"""
