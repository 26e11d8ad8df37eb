"""The write-once corpus artifact store (apache_flink_pratices_spark/artifacts.py):
the owned base directory, the key policy, the JSON probe and the parquet
publisher, plus the key each artifact family's call site derives."""

from __future__ import annotations

import functools
import glob
import os
import tempfile

import pytest

from apache_flink_pratices_spark import artifacts
from apache_flink_pratices_spark.operators import (
    curation,
    dedup,
    multimodal,
    similarity,
    text,
)

from tests.conftest import SF_SMOKE

#: every artifact family: the call that reaches its key, and the modules
#: whose code derives its content (the call site's ``derived_from``)
FAMILIES = {
    "simhash_pairs": (dedup.simhash_candidate_pairs, ("dedup",)),
    "simhash_probe": (dedup._build_candidate_pairs, ("dedup",)),
    "minhash_probe": (dedup.dedup_minhash_lsh, ("dedup",)),
    "cc_labels": (curation.neardup_cluster_labels, ("curation", "dedup")),
    "phash_probe": (multimodal.mm_phash_pairs, ("multimodal", "dedup")),
    "video_phash_probe": (
        multimodal.mm_video_phash_pairs,
        ("multimodal", "dedup"),
    ),
    "bpe_merges": (text.trained_bpe_merges, ("text",)),
    "clf_weights": (text.trained_classifier_weights, ("text",)),
    "ivf_centroids": (similarity.trained_ivf_centroids, ("kmeans", "similarity")),
}


class _Keyed(Exception):
    """Raised by the publisher stubs once a call site has derived its key."""


def _key_of(spark, monkeypatch, call) -> str:
    def json_stub(name, key, build, valid=None):
        raise _Keyed(key)

    def parquet_stub(spark, key, build):
        raise _Keyed(key)

    monkeypatch.setattr(artifacts, "json_artifact", json_stub)
    monkeypatch.setattr(artifacts, "parquet_artifact", parquet_stub)
    with pytest.raises(_Keyed) as keyed:
        call(spark, SF_SMOKE)
    return keyed.value.args[0]


@pytest.mark.parametrize(
    "family,module",
    [(f, m) for f, (_, mods) in FAMILIES.items() for m in mods],
)
def test_key_covers_the_source_of_every_deriving_module(
    spark, monkeypatch, family, module
):
    """A hit is trusted by existence alone, so an edit to ANY module that
    derives an artifact must miss its key. The edit is simulated by
    patching the source reader for that one module. The phash probes
    once keyed only on dedup's hand-set version, so a phash kernel edit
    in multimodal kept serving a stale-low hint, which silently disables
    the hot-bucket guard (ADVICE r7)."""
    call, _ = FAMILIES[family]
    before = _key_of(spark, monkeypatch, call)
    assert _key_of(spark, monkeypatch, call) == before  # deterministic

    real = artifacts._source
    target = f"apache_flink_pratices_spark.operators.{module}"
    monkeypatch.setattr(
        artifacts,
        "_source",
        lambda m: real(m) + ("\n# edited" if m.__name__ == target else ""),
    )
    assert _key_of(spark, monkeypatch, call) != before


def test_corpus_probe_is_write_once(tmp_path, monkeypatch):
    """The pre-check statistic is computed once per (corpus, config) and
    then served from the artifact dir; the key covers the source of the
    deriving module, so an edit to it invalidates cached verdicts."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    probe = functools.partial(artifacts.probe, derived_from=(dedup,))
    calls = []

    def compute():
        calls.append(1)
        return 7

    assert probe(SF_SMOKE, "t_probe", compute) == 7
    assert probe(SF_SMOKE, "t_probe", compute) == 7
    assert len(calls) == 1  # second read served from the cache file
    # a different probe name gets its own slot
    assert probe(SF_SMOKE, "t_probe2", lambda: 9) == 9
    # an edit to the deriving module invalidates
    real = artifacts._source
    monkeypatch.setattr(artifacts, "_source", lambda m: real(m) + "\n# edited")
    assert probe(SF_SMOKE, "t_probe", compute) == 7
    assert len(calls) == 2


def test_corpus_probe_config_tuple_separates_keys(tmp_path, monkeypatch):
    """Probes with the same name but different config tuples must not
    share a cache entry (review r7: the key previously hardcoded simhash
    constants for every probe family)."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    probe = functools.partial(artifacts.probe, derived_from=(dedup,))

    a = probe(SF_SMOKE, "cfg_probe", lambda: 1, config=(16, 4))
    b = probe(SF_SMOKE, "cfg_probe", lambda: 2, config=(32, 8))
    a_again = probe(SF_SMOKE, "cfg_probe", lambda: 99, config=(16, 4))
    assert (a, b, a_again) == (1, 2, 1)


def test_corpus_probe_treats_any_bad_cache_file_as_a_miss(
    tmp_path, monkeypatch
):
    """A parseable-but-wrong probe file (null/list/garbage value) must
    fall back to recompute-and-rewrite, not crash every banded-join query
    until someone hand-deletes the file (review r7: int(None) raised
    TypeError past the except clause)."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    probe = functools.partial(artifacts.probe, derived_from=(dedup,))

    assert probe(SF_SMOKE, "bad_probe", lambda: 5) == 5
    (path,) = glob.glob(os.path.join(str(tmp_path), "probe_bad_probe_*.json"))
    for junk in ('{"value": null}', '{"value": [1]}', "not json", ""):
        with open(path, "w") as f:
            f.write(junk)
        assert probe(SF_SMOKE, "bad_probe", lambda: 5) == 5
        with open(path) as f:  # the bad file was healed, not left behind
            assert f.read() == '{"value": 5}'


def test_artifact_base_default_falls_back_past_a_squatted_path(
    tmp_path, monkeypatch
):
    """If the DEFAULT tempdir base is unusable (here: squatted by a
    regular FILE, the reproducible stand-in for a foreign-owned dir), the
    base helper must fall back to an owned sibling instead of chmod'ing
    what it does not own (review r7)."""
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR", raising=False)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    preferred = tmp_path / f"afp_neardup_pairs_{os.getuid()}"
    preferred.write_text("squatter")  # a file: makedirs raises OSError

    base = artifacts.base()
    assert base == str(preferred) + ".alt0"
    assert os.path.isdir(base)
    assert (os.stat(base).st_mode & 0o777) == 0o700


def test_artifact_base_explicit_dir_is_never_diverted(tmp_path, monkeypatch):
    """An EXPLICITLY configured SPARK_GRAFT_ARTIFACT_DIR is honored or
    refused loudly — never silently replaced by an '.alt0' sibling, and
    never chmod'ed (the operator may have chosen group-shared perms)
    (review r7)."""
    squatted = tmp_path / "base"
    squatted.write_text("squatter")  # a file: unusable, must raise
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(squatted))
    with pytest.raises((RuntimeError, OSError)):
        artifacts.base()
    assert not os.path.exists(str(squatted) + ".alt0")

    shared = tmp_path / "shared"
    shared.mkdir(mode=0o750)  # deliberately group-readable
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(shared))
    assert artifacts.base() == str(shared)
    assert (os.stat(shared).st_mode & 0o777) == 0o750  # perms untouched


@pytest.mark.parametrize(
    "artifact,errno,message",
    [
        pytest.param("pairs", 13, "Permission denied", id="pairs"),
        pytest.param("labels", 18, "Invalid cross-device link", id="labels"),
    ],
)
def test_parquet_artifact_rename_failure_reraises(
    spark, tmp_path, monkeypatch, artifact, errno, message
):
    """ADVICE r12: a GENUINE rename failure (permissions, cross-device
    base) must re-raise — only the lost-concurrent-builder race (the
    destination exists afterwards) is swallowed. Before the fix, any
    OSError was swallowed and the function failed later at
    spark.read.parquet with a misleading path-not-found."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    if artifact == "labels":
        # pre-build the upstream PAIR artifact with a working rename so
        # the injected failure below exercises the LABEL write
        dedup.simhash_candidate_pairs(spark, SF_SMOKE)
        serve = curation.neardup_cluster_labels
    else:
        serve = dedup.simhash_candidate_pairs

    def stranded():
        return [p for p in tmp_path.iterdir() if ".tmp." in p.name]

    real_rename = os.rename

    def broken_rename(src, dst, *a, **k):
        raise OSError(errno, message, src, None, dst)

    monkeypatch.setattr(os, "rename", broken_rename)
    with pytest.raises(OSError, match=message):
        serve(spark, SF_SMOKE).collect()
    # the failed build must not strand its tmp dir in the artifact base
    assert not stranded()

    # lost-race shape: a "concurrent builder" published the destination
    # before our rename failed — swallowed, artifact served
    def lost_race(src, dst, *a, **k):
        real_rename(src, dst)
        raise OSError(17, "File exists", src, None, dst)

    monkeypatch.setattr(os, "rename", lost_race)
    assert serve(spark, SF_SMOKE).count() > 0
    assert not stranded()
