"""Write-once artifacts derived from an immutable corpus.

Some results are a deterministic function of the corpus files, a few
config constants and the code that computes them: the simhash candidate
pairs, the near-dup cluster labels, the band joins' max-bucket probes,
the learned BPE merges, the classifier weights and the trained IVF
centroids. Each is built on first use, published by an atomic rename and
afterwards trusted by its existence alone, so that later queries and
fresh processes scan a small table instead of re-paying the build.

This module owns that decision: where artifacts live (:func:`base`), how
they are keyed (:func:`key`) and how they are published
(:func:`json_artifact`, :func:`probe`, :func:`parquet_artifact`).

Because a hit is never re-checked, the key must cover everything that can
change the content. Its code part is the md5 of the source of every module
the caller names in ``derived_from``, so any edit to that code misses the
key; there is no hand-set version to forget. An edit that changes nothing
(a comment) costs one rebuild.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import stat
import tempfile
import uuid
from types import ModuleType
from typing import TYPE_CHECKING, Callable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def base() -> str:
    """The artifact directory: ``$SPARK_GRAFT_ARTIFACT_DIR`` if set, else
    ``afp_neardup_pairs_<uid>`` under the system tempdir.

    The default sits in a world-writable directory, where another user
    could pre-create the path and have us trust poisoned parquet (ADVICE
    r6). So it is created 0o700, and a path that is a symlink, not a
    directory, or not ours is neither chmod'ed nor trusted: numbered
    ``.altN`` siblings are tried instead (review r7: recomputing the same
    path and chmod'ing a foreign directory turned the guard into a denial
    of service). An explicitly configured directory is the operator's
    choice: it is honoured as it is, without a chmod (it may be
    group-shared), or refused loudly, never diverted to a sibling."""

    def usable(path: str) -> bool:
        # lstat, not stat: a symlink to a directory someone else chose
        # would pass a followed-stat owner check
        st = os.lstat(path)
        return (
            not stat.S_ISLNK(st.st_mode)
            and stat.S_ISDIR(st.st_mode)
            and st.st_uid == os.getuid()
        )

    env = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if env:
        os.makedirs(env, mode=0o700, exist_ok=True)
        if not usable(env):
            raise RuntimeError(
                f"SPARK_GRAFT_ARTIFACT_DIR={env!r} is a symlink, not a "
                "directory, or not owned by this user; refusing to trust it"
            )
        return env

    preferred = os.path.join(
        tempfile.gettempdir(), f"afp_neardup_pairs_{os.getuid()}"
    )
    for path in [preferred] + [f"{preferred}.alt{i}" for i in range(10)]:
        try:
            os.makedirs(path, mode=0o700, exist_ok=True)
            if not usable(path):
                continue
            os.chmod(path, 0o700)
            return path
        except OSError:
            continue
    raise RuntimeError(
        f"no owned artifact directory available near {preferred!r}; "
        "set SPARK_GRAFT_ARTIFACT_DIR to a writable private path"
    )


def _source(module: ModuleType) -> str:
    return inspect.getsource(module)


def key(
    sf_dir: str,
    derived_from: tuple[ModuleType, ...],
    *config,
    table: str = "documents",
) -> str:
    """The cache key of an artifact derived from ``{sf_dir}/{table}.parquet``.

    It covers, in order: the corpus identity (directory, file size and
    mtime), every ``config`` value that shapes the artifact (numeric
    constants by VALUE, and a name that separates artifacts of one
    corpus), and the md5 of the source of each module in
    ``derived_from``. Name every module whose code computes the content:
    an under-inclusive list is a stale-answer bug, an over-inclusive one
    costs a rebuild. ``table`` names the identity-bearing file: the IVF
    centroids derive from ``embeddings``, not ``documents``."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    code = [hashlib.md5(_source(m).encode()).hexdigest() for m in derived_from]
    parts = [os.path.abspath(sf_dir), st.st_size, st.st_mtime_ns, *config, *code]
    return hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()[:16]


def json_artifact(name: str, key: str, build: Callable[[], object], valid=None):
    """Read ``{base}/{name}_{key}.json``, or build and publish it.

    Any unreadable file is a cache miss, never a crash, and so is a
    parseable one that fails the caller's ``valid`` shape check (review
    r7: a ``{"value": null}`` probe file raised TypeError past the except
    clause and failed every banded join until it was deleted by hand); a
    miss rebuilds and republishes, which heals the bad file. ``build()``
    returns a JSON-serializable object, published atomically (uuid tmp
    name, then ``os.replace``; concurrent builders write identical
    content, so the race is benign). Both paths return the JSON round
    trip, so a caller sees the same types on a hit and a miss."""
    path = os.path.join(base(), f"{name}_{key}.json")
    try:
        with open(path) as f:
            obj = json.load(f)
        if valid is None or valid(obj):
            return obj
    except (OSError, ValueError, KeyError, TypeError):
        pass
    payload = json.dumps(build())
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)
    return json.loads(payload)


def probe(
    sf_dir: str,
    name: str,
    compute: Callable[[], int],
    derived_from: tuple[ModuleType, ...],
    config: tuple = (),
) -> int:
    """A write-once integer statistic of the corpus: the table-statistics
    pattern (ANALYZE). A deterministic scalar such as the largest band
    bucket pays its job once and is read from the artifact afterwards.
    ``config`` carries every constant that shapes this probe family (band
    counts, widths, hash coefficients): a stale-low max-bucket hint would
    silently disable the hot-bucket guard (ADVICE r7)."""
    obj = json_artifact(
        f"probe_{name}",
        key(sf_dir, derived_from, *config, name),
        lambda: {"value": int(compute())},
        valid=lambda o: isinstance(o.get("value"), int),
    )
    return int(obj["value"])


def parquet_artifact(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Scan the parquet artifact ``{base}/{key}``, writing ``build()`` there
    first if it does not exist.

    The write goes to a uuid-suffixed sibling (a pid is not enough: two
    threads of one driver share it), and a failed write removes it, so
    nothing is stranded in the base. A rename that fails because a
    concurrent builder published first is swallowed: both wrote the same
    deterministic content. Any other rename failure (permissions, a
    cross-device base) re-raises here instead of surfacing later as a
    misleading path-not-found from the read (ADVICE r12)."""
    path = os.path.join(base(), key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        try:
            build().write.mode("overwrite").parquet(tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(path):
                raise
    return spark.read.parquet(path)
