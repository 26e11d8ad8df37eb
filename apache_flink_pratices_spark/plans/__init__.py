"""Physical-plan introspection: :mod:`.explain` renders a DataFrame's
formatted plan, which the plan-audit tests read (filter pushdown, column
pruning, broadcast vs shuffle join choice, codegen coverage)."""
