"""Persistent store for dataset-level results: trained artifacts and
materialized tiers.

Several operators derive a bounded, dataset-level product with Spark
jobs and then reuse it. Two kinds live here:

* **artifacts** (``memo_artifact``): small trained values folded back
  into plans as literals — IVF centroids and PQ seeds, Lloyd-refined
  PQ codebooks and the k-means quantizer (operators/similarity.py),
  SQ8 per-dimension ranges, the logistic classifier's weights
  (operators/classifier.py), the decontamination Bloom bitset
  (operators/contamination.py), the hashed bigram LM's count tables
  (operators/selection.py). Stored as JSON through a tagged codec
  (tuples and pyspark Rows are not native JSON); a value the codec
  cannot express is memoized in-process only.
* **tiers** (``ensure_tier``): whole tables several queries consume —
  the dedup candidate pairs, keep set and component labels
  (operators/dedup.py), the media fingerprints
  (operators/multimodal.py), the v1 band index
  (operators/versioning.py). Stored as parquet and read back by scan;
  files survive ``session.release_cached``, and an index shared across
  jobs is the shape a cluster-scale pipeline writes next to its
  corpus. Row order inside a tier is not part of its contract.

Why a persistent store holds them:

* **Deterministic builders.** Every builder is seeded and
  integer-snapped, so its product is a pure function of (data
  directory contents, name, code version). Reuse can change a query's
  cost, never its answer.
* **Reuse across processes.** The key is the data directory's
  realpath, the scan stats of each ``<table>.parquet`` entry in it
  (a table rewritten in place, file or directory layout, gets a new
  key), the hash of the package's own source (any code change retires
  every entry) and the name. No session or application id is in it,
  so a fresh JVM is served without retraining and no query books a
  training job as its own latency.
* **Atomic writes.** An artifact lands in a temp file that is
  ``os.replace``d into place; a tier is written to a temp directory
  that is ``os.rename``d into place. A concurrent process either sees
  the complete entry or builds its own; both build the same value,
  and the first rename (last replace) wins.
* **A private root.** Entries become plan literals and scan paths, so
  the default root must be a real directory owned by this uid with no
  group/other access (``_verify_private``), and it is swept of stale
  entries once per process (``_gc_store``).

An in-process memo keeps decoded artifact values, saving a JSON read
and decode per warm call; a warm tier costs one ``isdir``. One
reentrant lock serializes every cold build in this process: a tier
builder may read an artifact or a lower tier, and an artifact builder
another artifact. The trade-off is that a cold tier build and a cold
artifact training on two service threads wait for each other, where
each kind used to wait only for its own kind.

``SPARK_GRAFT_NO_TIER_CACHE=1`` disables the store (every call
builds) — for tests that time or plan-audit the cold path.
``SPARK_GRAFT_ARTIFACT_DIR`` relocates its root (test isolation).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import stat
import tempfile
import threading
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, Row, SparkSession

from parquet_extractor_spark.sources.tables import _read_parquet, _scan_stats

_KINDS = ("artifacts", "tiers")
_MEMO: dict[tuple, Any] = {}
_LOCK = threading.RLock()
_CODE_FP: str | None = None
_STORE_ROOT: str | None = None
_GC_DONE = False
_TMP_MAX_AGE_S = 3600.0  # orphaned .tmp.<pid> from crashed builds
_ENTRY_MAX_AGE_S = 7 * 86400.0  # stale code-fp generations


def disabled() -> bool:
    """True when ``SPARK_GRAFT_NO_TIER_CACHE=1`` turns the store off."""
    return os.environ.get("SPARK_GRAFT_NO_TIER_CACHE", "") == "1"


def code_fingerprint() -> str:
    """Hash of every .py source in this package (relpath + bytes),
    computed once per process. Hashing the whole package, not just a
    builder's module, means a change to a shared helper — the
    tokenizer, the hash function — also retires stored entries."""
    global _CODE_FP
    if _CODE_FP is None:
        root = os.path.dirname(os.path.abspath(__file__))
        h = hashlib.sha256()
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                h.update(b"\x00")
                with open(p, "rb") as fh:
                    h.update(fh.read())
                h.update(b"\x00")
        _CODE_FP = h.hexdigest()[:20]
    return _CODE_FP


def _verify_private(d: str, uid: int | None) -> bool:
    """True when ``d`` is a real directory (not a symlink) owned by
    ``uid`` with no group/other permission bits; a loose directory is
    tightened to 0700 first. ``uid`` None (non-POSIX) skips the
    ownership/mode checks — there is no shared temp root to defend."""
    try:
        st = os.lstat(d)
    except OSError:
        return False
    if not stat.S_ISDIR(st.st_mode):  # symlink or file
        return False
    if uid is None:
        return True
    if st.st_uid != uid:
        return False
    if st.st_mode & 0o077:
        # makedirs(exist_ok=True) applies the mode only on creation
        try:
            os.chmod(d, 0o700)
            st = os.lstat(d)
        except OSError:
            return False
        if st.st_mode & 0o077:
            return False
    return True


def _remove(p: str) -> None:
    if os.path.isdir(p) and not os.path.islink(p):
        shutil.rmtree(p, ignore_errors=True)
    else:
        try:
            os.remove(p)
        except OSError:
            pass


def _gc_store(root: str) -> None:
    """Once per process: remove ``.tmp.<pid>`` build debris older than
    an hour and entries not touched in ``_ENTRY_MAX_AGE_S``. Reads
    touch their entry, so a hot entry never ages out; stale
    code-fingerprint generations do."""
    global _GC_DONE
    if _GC_DONE:
        return
    _GC_DONE = True
    now = time.time()
    for kind in _KINDS:
        d = os.path.join(root, kind)
        try:
            names = os.listdir(d)
        except OSError:
            continue
        for n in names:
            p = os.path.join(d, n)
            try:
                age = now - os.lstat(p).st_mtime
            except OSError:
                continue
            if (".tmp." in n and age > _TMP_MAX_AGE_S) or age > _ENTRY_MAX_AGE_S:
                _remove(p)


def store_root() -> str:
    """The store's root directory: $SPARK_GRAFT_ARTIFACT_DIR, else
    $XDG_CACHE_HOME/spark-graft-store (or ~/.cache/...), falling back
    to a per-uid directory under the system temp dir. A default root
    is created 0700, must pass ``_verify_private`` (a directory
    pre-planted in a world-writable temp root is not trusted) and is
    garbage-collected once per process."""
    d = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if d:
        # explicit override (tests, operators): caller owns placement
        os.makedirs(d, mode=0o700, exist_ok=True)
        return d
    global _STORE_ROOT
    if _STORE_ROOT is not None:
        return _STORE_ROOT
    try:
        uid: int | None = os.getuid()
    except AttributeError:  # non-POSIX
        uid = None
    candidates = []
    cache_home = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    if not cache_home.startswith("~"):  # expanduser resolved
        candidates.append(os.path.join(cache_home, "spark-graft-store"))
    candidates.append(
        os.path.join(tempfile.gettempdir(), f"spark-graft-store-{uid or 0}")
    )
    for d in candidates:
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
        except OSError:
            continue
        if _verify_private(d, uid):
            _STORE_ROOT = d
            _gc_store(d)
            return d
    raise RuntimeError(
        "no private artifact store root available (candidates failed "
        f"ownership/mode verification: {candidates}); set "
        "SPARK_GRAFT_ARTIFACT_DIR to a directory you own"
    )


def _key(sf_dir: str, name: str | tuple) -> tuple:
    """(realpath, per-table scan stats, code fingerprint, *name). A
    directory that does not exist keys on its path alone."""
    try:
        tables = sorted(n for n in os.listdir(sf_dir) if n.endswith(".parquet"))
    except OSError:
        tables = []
    stats = tuple((n, _scan_stats(os.path.join(sf_dir, n))) for n in tables)
    names = name if isinstance(name, tuple) else (name,)
    return (os.path.realpath(sf_dir), stats, code_fingerprint()) + names


def _entry_path(kind: str, k: tuple) -> str:
    digest = hashlib.sha256(repr(k).encode()).hexdigest()[:24]
    slug = "".join(c if c.isalnum() or c in "-_" else "-" for c in str(k[3]))
    d = os.path.join(store_root(), kind)
    os.makedirs(d, exist_ok=True)
    ext = ".json" if kind == "artifacts" else ""
    return os.path.join(d, f"{slug[:40]}-{digest}{ext}")


def _touch(path: str) -> None:
    try:  # keep hot entries out of the age-based GC's reach
        os.utime(path)
    except OSError:
        pass


# ── tagged JSON codec ──────────────────────────────────────────────
# Artifacts are built from list/tuple/Row/scalars only; tuples and
# Rows need tags because JSON has neither. A dict is not supported:
# the encoder raises and the caller keeps the value in-process only.


def _encode(v: Any) -> Any:
    if isinstance(v, Row):
        return {"__row__": list(v.__fields__), "v": [_encode(x) for x in v]}
    if isinstance(v, tuple):
        return {"__tuple__": [_encode(x) for x in v]}
    if isinstance(v, list):
        return [_encode(x) for x in v]
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    raise TypeError(f"artifact codec: unsupported type {type(v)!r}")


def _decode(v: Any) -> Any:
    if isinstance(v, dict):
        if "__row__" in v:
            return Row(**{f: _decode(x) for f, x in zip(v["__row__"], v["v"])})
        if "__tuple__" in v:
            return tuple(_decode(x) for x in v["__tuple__"])
        raise TypeError("artifact codec: unexpected object")
    if isinstance(v, list):
        return [_decode(x) for x in v]
    return v


def _load_disk(path: str) -> Any:
    try:
        with open(path) as fh:
            v = _decode(json.load(fh))
    except (OSError, ValueError, TypeError):
        return None  # missing or torn: a miss
    _touch(path)
    return v


def _save_disk(path: str, value: Any) -> None:
    try:
        enc = _encode(value)
    except TypeError:
        return  # unexpressible: in-process memo only
    tmp = f"{path}.tmp.{os.getpid()}"
    try:
        with open(tmp, "w") as fh:
            json.dump(enc, fh)
        os.replace(tmp, path)  # atomic: readers never see a torn file
    except OSError:
        _remove(tmp)


def memo_artifact(
    spark, sf_dir: str, name: tuple, build: Callable[[], Any]
) -> Any:
    """Return the artifact ``name`` of ``sf_dir``, training it at most
    once per key across processes."""
    if disabled():
        return build()
    k = _key(sf_dir, name)
    with _LOCK:
        if k in _MEMO:
            return _MEMO[k]
        path = _entry_path("artifacts", k)
        v = _load_disk(path)
        if v is None:
            v = build()
            _save_disk(path, v)
        _MEMO[k] = v
        return v


def ensure_tier(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the tier ``name`` of ``sf_dir`` as a DataFrame, writing
    it on first use per key across processes. The lock serializes
    drivers, not executors: the write is a normal distributed parquet
    write of a small table."""
    if disabled():
        return build()
    with _LOCK:
        path = _entry_path("tiers", _key(sf_dir, name))
        if os.path.isdir(path):
            _touch(path)
        else:
            tmp = f"{path}.tmp.{os.getpid()}"
            build().write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                # lost the cross-process race: the winner's tier is
                # complete (rename is atomic) — read theirs
                shutil.rmtree(tmp, ignore_errors=True)
                if not os.path.isdir(path):
                    raise
    # fingerprint-keyed schema cache: a warm read plans without the
    # schema-inference job spark.read.parquet launches per call
    return _read_parquet(spark, path, _scan_stats(path))


def clear() -> None:
    """Test hook: forget every memoized artifact, and delete every
    entry on disk ONLY when $SPARK_GRAFT_ARTIFACT_DIR isolates the
    store. The shared default root is never purged from here: other
    live processes scan paths in it and a concurrent bench relies on
    its warm state."""
    with _LOCK:
        _MEMO.clear()
        if not os.environ.get("SPARK_GRAFT_ARTIFACT_DIR"):
            return
        for kind in _KINDS:
            d = os.path.join(store_root(), kind)
            try:
                names = os.listdir(d)
            except OSError:
                continue
            for n in names:
                _remove(os.path.join(d, n))
