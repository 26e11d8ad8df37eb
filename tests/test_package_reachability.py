"""Every top-level def, class and named constant of the engine package is
reached from a query, stream, bench, perfbench or tool path, never only
from ``tests/``. Reachability is by name over the AST (loads, calls,
attributes, used imports; a docstring mention is not a reference), from
the names ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and
``tools/`` use, the package's module-level statements, the
``@register``-decorated queries and the ALLOWLIST, through everything a
reached def references."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "apache_flink_pratices_spark"

#: Paper capabilities no query, stream, bench or tool runs yet, keyed by
#: module path inside the package and name. Add a name here with its
#: reason, or move it beside its test.
ALLOWLIST = {
    "ingest.websocket_bridge.WebSocketBridge":
        "the WebSocket ingest bridge (exchange feed to Kafka), run as a service",
    "streaming.wordcount.wordcount_stream":
        "the streaming word count of the paper (update-mode running totals)",
    "sources.kafka.decode_kafka_value":
        "Kafka value decoding of the ingest path; needs a broker to run",
    "sources.kafka.kafka_reader":
        "the configured Kafka reader of the ingest path; needs a broker",
    "sources.kafka.read_kafka_stream":
        "the Kafka stream source of the ingest path; needs a broker",
    "sinks.kafka.write_kafka_stream":
        "the Kafka stream sink of the ingest path; needs a broker",
    "sources.files.load_csv":
        "the CSV file source with corrupt-record capture",
    "sources.files.load_jsonl":
        "the JSONL file source with corrupt-record capture",
    "sources.files.split_corrupt":
        "quarantine of the file sources' corrupt records",
    "sources.collection.from_collection":
        "the bounded in-memory stream source (Flink's from_collection)",
    "sinks.partitioned.foreach_batch_writer":
        "the idempotent date-partitioned file sink for streams",
    "streaming.metrics.attach_metrics":
        "the streaming metrics listener; no bench path attaches it yet",
    "streaming.metrics.detach_metrics":
        "the streaming metrics listener; no bench path attaches it yet",
    "streaming.signal_generator.unify_streams":
        "the CEP signal generator's union of its four input streams",
    "serialization.market_proto.encode_orderbook":
        "the per-message orderbook codec of the protobuf API",
    "serialization.market_proto.decode_orderbook":
        "the per-message orderbook codec of the protobuf API",
    "operators.pca.pca_fit":
        "the power-iteration fit loop around the registered pca_power_step",
    "operators.multimodal.resize_images":
        "the image transform of the media pipeline (decode, pool, re-emit)",
    "operators.multimodal.phash_table_from_pngs":
        "real PNG files into the perceptual-hash near-dup path",
    "operators.skew.salted_join":
        "the salted big-small equi-join of the skew toolkit",
}


def _refs(node) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).split(".")[-1] for a in n.names)
            out.update(a.name for a in n.names)
    return out


def _package_defs():
    """(qualified name -> (bare name, node)) of every top-level def,
    class and named constant, and the names the package's other
    module-level statements reference."""
    defs: dict[str, tuple[str, ast.AST]] = {}
    module_refs: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        tree = ast.parse(path.read_text())
        imports = [st for st in tree.body if isinstance(st, ast.ImportFrom)]
        used = set().union(*(_refs(st) for st in tree.body if st not in imports))
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{st.name}"] = (st.name, st)
                continue
            if st in imports:
                # an import is a reference only where its module uses it
                module_refs |= {a.name for a in st.names if (a.asname or a.name) in used}
                continue
            targets = (
                st.targets if isinstance(st, ast.Assign)
                else [st.target] if isinstance(st, ast.AnnAssign) else []
            )
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            for name in names:
                defs[f"{mod}.{name}"] = (name, st)
            if not names:
                module_refs |= _refs(st)
    return defs, module_refs


def _body_refs(name: str, node) -> set[str]:
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        return _refs(node.value) if node.value is not None else set()
    return _refs(node) - {name}


def _registered(node) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.ClassDef)) and any(
        "register" in _refs(d) for d in node.decorator_list
    )


def _outside_refs() -> set[str]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += [p for p in (ROOT / "perfbench").rglob("*.py") if "tests" not in p.parts]
    files += list((ROOT / "tools").rglob("*.py"))
    out: set[str] = set()
    for path in files:
        out |= _refs(ast.parse(path.read_text()))
    return out


def _unreached() -> tuple[list[str], dict]:
    defs, module_refs = _package_defs()
    by_name: dict[str, list[str]] = {}
    for qual, (name, _) in defs.items():
        by_name.setdefault(name, []).append(qual)
    reached = module_refs | _outside_refs()
    reached |= {name for name, node in defs.values() if _registered(node)}
    reached |= {q.rsplit(".", 1)[1] for q in ALLOWLIST}
    reached |= {name for name, _ in defs.values() if name.startswith("__")}
    todo = list(reached)
    while todo:
        for qual in by_name.get(todo.pop(), []):
            name, node = defs[qual]
            new = _body_refs(name, node) - reached
            reached |= new
            todo.extend(new)
    return sorted(q for q, (name, _) in defs.items() if name not in reached), defs


def test_every_package_name_is_reached_outside_tests():
    unreached, _ = _unreached()
    assert not unreached, (
        "reached only from tests/ (or from nowhere): move each beside its "
        f"test, or allowlist it with a reason: {unreached}"
    )


def test_allowlist_names_exist():
    _, defs = _unreached()
    missing = sorted(q for q in ALLOWLIST if q not in defs)
    assert not missing, f"allowlisted names not in the package: {missing}"
    assert all(reason.strip() for reason in ALLOWLIST.values())
