"""Frozen derived-frame lifecycle — materialize-once artifacts with
fingerprint staleness guards (VERDICT r11 #1).

The ANN index taught the pattern (operators/similarity.py:247-403):
expensive derived state is trained OFFLINE by a tool, frozen as a repo
artifact next to a fingerprint of its source data, and SERVED at query
time only while the fingerprint is fresh — on drift the server falls
back to the live build with a loud warning, and the paired freshness
test turns the same condition into a hard failure telling you to re-run
the tool.  This module generalizes that lifecycle from centroid lists
to whole DataFrames: the LSH signature/candidate frames, the near-dup
pair graph and its component labels, the co-purchase edge list, and the
exact-top-k ANN ground truth are all artifacts a production pipeline at
100 TB materializes exactly once and serves to every downstream
consumer — yet (pre-r12) every gauge query re-paid the full build cold
(`ann_ivf_int8_recall` 11.7 s, `minhash_estimator_error` 8.1 s on the
r11 driver bench).

Verification story — why serving a frozen frame does NOT weaken the
correctness gate: every consumer's DuckDB oracle recomputes the SAME
derived frame from the RAW tables in SQL.  A frozen artifact that
drifts from the live semantics (stale data, stale build code) produces
a different final result and FAILS the hash gate; the fingerprint guard
exists to catch data drift loudly at serve time, and the ``version``
field to catch build-code drift (bump it whenever an artifact's build
semantics change — the old artifact is then refused, not silently
served).

Layout::

    mapreducer_spark/data/frozen/fingerprints.json
    mapreducer_spark/data/frozen/<fixture>/<artifact>/  (parquet)

``<fixture>`` is the basename of the sf dir (sf0.001/sf0.01/sf0.1/sf1).
Artifacts for the git-ignored 10x fixture (.scale10/sf1) are themselves
git-ignored; tools/freeze_derived_frames.py regenerates them (run it —
like tools/train_ivf_index.py — after any fixture regen).

At 100 TB the artifact store would be a parquet/Iceberg table on object
storage written by the same pipeline step; the single-directory layout
here is the fixture-scale stand-in, and serving is a plain
``spark.read.parquet`` — partition-parallel, predicate-pushable,
nothing driver-sized.

Serving and reuse: every serve reads the fingerprint file ONCE —
``is_fresh`` returns the record it accepted (``None`` = refuse), and the
same record both picks the path (frozen read vs live build) and, for
artifacts shared across queries, becomes the freshness token of their
session-cache entry (``session_artifact`` -> functions/memo.py).  The
token is looked up BEFORE serving, so a cache hit runs no parquet read,
no ``fan_out`` and no build; a refreeze changes the record, so the next
serve replaces the old entry instead of returning its rows.  Plain
``serve(spark, sf_dir)`` calls are not memoized.
"""

from __future__ import annotations

import hashlib
import json
import os
import warnings
from dataclasses import dataclass
from functools import lru_cache
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreducer_spark.functions.memo import session_memo

_FROZEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "frozen",
)
_FP_PATH = os.path.join(_FROZEN_DIR, "fingerprints.json")


@dataclass(frozen=True)
class FrozenSpec:
    name: str
    sources: tuple[str, ...]  # fixture tables the build reads
    version: int  # bump on any build-semantics change
    build: Callable[[SparkSession, str], DataFrame]
    # Non-fixture inputs the build depends on (e.g. the frozen IVF
    # centroid file for the inverted-list artifact): absolute paths,
    # hashed into the fingerprint so an upstream-artifact retrain
    # refuses this artifact loudly instead of serving a mismatched one.
    extra_files: tuple[str, ...] = ()


_SPECS: dict[str, FrozenSpec] = {}


def frozen_spec(
    name: str,
    sources: tuple[str, ...],
    version: int = 1,
    extra_files: tuple[str, ...] = (),
):
    """Register an artifact's live builder and return the SERVING
    function: frozen parquet when fingerprint-fresh, else the live
    build (with a loud staleness warning when an artifact exists but
    no longer matches its sources)."""

    def deco(build: Callable[[SparkSession, str], DataFrame]):
        if name in _SPECS:
            raise ValueError(f"duplicate frozen artifact name {name!r}")
        spec = FrozenSpec(name, tuple(sources), version, build, tuple(extra_files))
        _SPECS[name] = spec

        def serve(spark: SparkSession, sf_dir: str) -> DataFrame:
            return frozen_or_build(spark, sf_dir, spec)

        serve.spec = spec
        serve.__name__ = f"frozen_{name}"
        serve.__doc__ = (
            f"Serve the frozen {name!r} artifact for sf_dir when its "
            f"fingerprint is fresh, else run the live build.  Sources: "
            f"{', '.join(sources)}; version {version}."
        )
        return serve

    return deco


def all_specs() -> dict[str, FrozenSpec]:
    """Registered artifact specs (the freeze tool's work list)."""
    return dict(_SPECS)


def _fingerprints() -> dict:
    # Keyed on the file's (mtime_ns, size) so an external freeze-tool run
    # mid-session is picked up; a missing/corrupt file is NOT cached
    # (ADVICE r12: lifetime-cached results defeated the serve-time drift
    # guard when sources were regenerated in-place).
    try:
        st = os.stat(_FP_PATH)
    except OSError:
        return {}
    return _fingerprints_at(_FP_PATH, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=8)
def _fingerprints_at(path: str, mtime_ns: int, size: int) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _file_md5(path: str) -> str | None:
    # Cache keyed on (path, mtime_ns, size): a regenerated fixture gets a
    # fresh hash instead of the stale cached one, and a missing file
    # (None) is never cached — so is_fresh stays a LIVE drift guard
    # across in-session source changes (ADVICE r12).
    try:
        st = os.stat(path)
    except OSError:
        return None
    return _file_md5_at(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=256)
def _file_md5_at(path: str, mtime_ns: int, size: int) -> str | None:
    try:
        h = hashlib.md5()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()
    except OSError:
        return None


def _source_md5s(sf_dir: str, sources: tuple[str, ...]) -> dict[str, str | None]:
    return {
        t: _file_md5(os.path.join(sf_dir, t + ".parquet")) for t in sources
    }


def _fixture(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def artifact_path(sf_dir: str, name: str) -> str:
    return os.path.join(_FROZEN_DIR, _fixture(sf_dir), name)


def is_fresh(sf_dir: str, spec: FrozenSpec) -> dict | None:
    """The fingerprint record that makes this fixture's artifact
    servable — it exists AND its recorded source fingerprints and build
    version both match — else None.  The fingerprint file is read once;
    the returned record is the freshness token of whatever it serves."""
    rec = _fingerprints().get(f"{_fixture(sf_dir)}/{spec.name}")
    if not isinstance(rec, dict):
        return None
    if rec.get("version") != spec.version:
        return None
    if not os.path.isdir(artifact_path(sf_dir, spec.name)):
        return None
    recorded = rec.get("sources", {})
    if not all(
        recorded.get(t) is not None
        and _source_md5s(sf_dir, (t,))[t] == recorded.get(t)
        for t in spec.sources
    ):
        return None
    recorded_extra = rec.get("extra", {})
    if not all(
        recorded_extra.get(os.path.basename(f)) is not None
        and _file_md5(f) == recorded_extra.get(os.path.basename(f))
        for f in spec.extra_files
    ):
        return None
    return rec


def frozen_or_build(
    spark: SparkSession, sf_dir: str, spec: FrozenSpec
) -> DataFrame:
    return _serve(spark, sf_dir, spec, is_fresh(sf_dir, spec))


def session_artifact(
    spark: SparkSession,
    sf_dir: str,
    serve: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """``serve``'s artifact for sf_dir, stored in the session cache
    under the fingerprint record that accepted it (None = live build,
    checkpointed there)."""
    spec = serve.spec
    rec = is_fresh(sf_dir, spec)
    return session_memo(
        spark,
        (spec.name, sf_dir),
        lambda: _serve(spark, sf_dir, spec, rec),
        token=rec,
    )


def _serve(
    spark: SparkSession, sf_dir: str, spec: FrozenSpec, rec: dict | None
) -> DataFrame:
    """Frozen read when ``rec`` (is_fresh's verdict) accepted the
    artifact, else the live build."""
    if rec is not None:
        # fan_out: the fixture-scale artifact is one parquet file = ONE
        # input split, which would serialize every downstream per-row
        # stage (explode, hashing, pair expansion) onto a single core —
        # measured 1.3 s -> 4.7 s on neardup_jaccard_blocked when the
        # frozen posting table replaced the 64-partition live build.  At
        # production scale the artifact is a multi-file table and
        # fan_out is a no-op (sources/tables.py:62).
        from mapreducer_spark.sources import fan_out

        return fan_out(spark.read.parquet(artifact_path(sf_dir, spec.name)))
    # A second fingerprint read, only to word the warning: ``rec``
    # already chose the path.
    fixture = _fixture(sf_dir)
    if f"{fixture}/{spec.name}" in _fingerprints():
        warnings.warn(
            f"frozen artifact {spec.name!r} for {fixture!r} is STALE "
            "(source fingerprint or build version no longer matches) — "
            "falling back to the live build; re-run "
            "tools/freeze_derived_frames.py " + sf_dir,
            RuntimeWarning,
            stacklevel=2,
        )
    return spec.build(spark, sf_dir)


def freeze(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict:
    """Build and freeze artifacts for ``sf_dir`` (the offline tool's
    engine).  Writes each frame as parquet under the artifact path and
    records {sources md5, version, n_rows, columns} in the fingerprint
    file.  Returns {name: n_rows}."""
    import shutil

    fixture = _fixture(sf_dir)
    fps: dict = {}
    if os.path.exists(_FP_PATH):
        with open(_FP_PATH) as f:
            fps = json.load(f)
    out: dict[str, int] = {}
    for name, spec in sorted(_SPECS.items()):
        if names is not None and name not in names:
            continue
        # Fingerprint BEFORE building (TOCTOU guard, same as
        # tools/train_ivf_index.py): if a source changes during the
        # build, the recorded fingerprint no longer matches and the
        # artifact is refused at serve time rather than served stale.
        src = _source_md5s(sf_dir, spec.sources)
        extra = {os.path.basename(f): _file_md5(f) for f in spec.extra_files}
        if any(v is None for v in src.values()) or any(
            v is None for v in extra.values()
        ):
            raise FileNotFoundError(
                f"{name}: missing source table or extra file"
            )
        df = spec.build(spark, sf_dir)
        path = artifact_path(sf_dir, name)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # Small fixture-scale frames: one file keeps the repo tidy and
        # the read cost one task; a production freeze would keep the
        # write partition-parallel.
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        n = spark.read.parquet(path).count()
        fps[f"{fixture}/{name}"] = {
            "version": spec.version,
            "sources": src,
            "extra": extra,
            "n_rows": int(n),
            "columns": df.columns,
        }
        out[name] = int(n)
    os.makedirs(_FROZEN_DIR, exist_ok=True)
    with open(_FP_PATH, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
    _fingerprints_at.cache_clear()
    return out
