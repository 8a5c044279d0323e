"""Build-once artifacts: the one owner of their lifecycle.

An artifact is a directory under the temp root (models, indexes, layouts,
format twins) whose content is a pure function of its source tables and of
the code that built it.  The contract:

* **Identity via** :mod:`parquery_spark.fs`.  :func:`artifact_dir` keys on
  ``relations._stat_key`` of the source table(s) — ``fs.canonical`` path
  plus ``fs.stat`` (mtime_ns, size) — so ``sf_dir`` may be a plain path, a
  ``file://`` URI or any URI ``fs`` can stat, and a table may be one file
  or a directory of part files.  A regenerated corpus gets a new name.
* **Logic tag.**  The key folds in a tag naming the build logic; bump it
  whenever that logic changes, or a stale artifact silently masks the new
  path (NOTES.md hazard).
* **Name.**  ``{prefix}_{10-hex}`` under ``tempfile.gettempdir()`` — the
  shape both sweeps below match on.
* **Publish by rename.**  :func:`_materialize_once` builds into a private
  root and renames it into place, so readers only ever see a complete
  artifact; a pre-existing artifact is trusted only if this uid owns it.
* **GC.**  On the build path only: per prefix, keep the 8 newest versions
  (:func:`_sweep_stale_versions`); globally, keep this uid's artifacts
  under a byte budget, oldest first (:func:`_sweep_global_budget`).
* **clear()** deletes every artifact, under a per-uid lock — the tooling's
  ``--fresh-artifacts`` (cold-build attribution in ``bench.py`` and
  ``scripts/plan_audit.py``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import tempfile
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from parquery_spark import relations


def artifact_dir(
    sf_dir: str, tables: str | Sequence[str], logic_tag: str, prefix: str
) -> str:
    """Temp-root directory for the artifact built from ``tables`` (one
    name or a tuple) of the corpus at ``sf_dir`` by the logic ``logic_tag``.
    Pair with :func:`_materialize_once` for atomic publish."""
    if isinstance(tables, str):
        tables = (tables,)
    srcs = [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
    ident = f"{relations._stat_key(srcs)}|{logic_tag}"
    tag = hashlib.md5(ident.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")


def _artifact_relation(spark: SparkSession, path: str) -> DataFrame:
    """A parquet artifact directory as a lazy relation through the
    analyzed-relation cache, keyed by the layout's ``_SUCCESS`` stat
    identity: ``spark.read.parquet(dir)`` re-lists the whole tree every
    call (~90 ms, seconds for a ~1000-partition index), while the plan is
    immutable for a given ``_SUCCESS`` version.  Nothing is persisted —
    pruning, PushedFilters and AQE behave exactly as with a fresh read; a
    rewritten artifact gets a fresh listing."""
    return relations._lazy_read(
        spark, [path], identity=os.path.join(path, "_SUCCESS")
    )


def _materialize_once(final_dir: str, build, marker: str = "_SUCCESS") -> str:
    """Publish an artifact directory ATOMICALLY: build into a private tmp
    root, then one ``os.rename`` to the final path.

    The naive pattern — check ``final/marker``, else run a multi-file
    Spark write INTO ``final`` — has two races that bit this repo (gate
    and scale_smoke running concurrently saw FAILED_READ_FILE): a reader
    can list the directory mid-write, and two builders can interleave
    file sets.  Build-then-rename closes both: readers only ever see a
    complete artifact (the marker is inside the renamed tree), and when
    two builders race, the rename loser discards its (bit-equivalent —
    content is a pure function of the key) copy.

    ``build(tmp_dir)`` must leave ``tmp_dir/marker`` present (Spark's
    committer writes ``_SUCCESS`` at every output root; multi-dir
    artifacts pass the LAST-written subpath, e.g. ``"codebook/_SUCCESS"``,
    as the marker).  A half-written ``final_dir`` from a crashed legacy
    run (no marker) is cleared before publishing.
    """
    if os.path.exists(os.path.join(final_dir, marker)):
        _check_artifact_owner(final_dir)
        return final_dir
    # unique per ATTEMPT (not per process): two threads of one session
    # racing the same artifact must not share a build root
    tmp = f"{final_dir}.build-{uuid.uuid4().hex[:12]}"
    build(tmp)
    if not os.path.exists(os.path.join(tmp, marker)):
        raise OSError(
            f"artifact builder for {final_dir!r} did not produce {marker!r}"
        )
    if os.path.isdir(final_dir) and not os.path.exists(
        os.path.join(final_dir, marker)
    ):
        shutil.rmtree(final_dir, ignore_errors=True)
    try:
        os.rename(tmp, final_dir)
    except OSError:
        # Either we lost the publish race (the winner's artifact is
        # equivalent — content is a pure function of the key) or the
        # rename genuinely failed (EACCES, EXDEV, ...).  Distinguish by
        # re-checking the marker: a missing artifact here would otherwise
        # surface much later as a confusing read error far from the cause.
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final_dir, marker)):
            raise
        _check_artifact_owner(final_dir)  # the race winner must be us-ish
    # GC runs only on the build path (a fresh corpus version just
    # published), never on the stat-only hot path
    _sweep_stale_versions(final_dir)
    _sweep_global_budget(final_dir)
    return final_dir


def _sweep_stale_versions(final_dir: str, max_versions: int = 8) -> None:
    """Reap STALE versions of the artifact prefix just published: keep the
    ``max_versions`` most-recently-built sibling directories
    (``{prefix}_{10-hex}``), delete the rest.  Without this the keyed
    scheme accumulates one directory per (corpus version × logic tag)
    forever.

    Safety: (a) runs only when a NEW version was just built — a steady
    workload never deletes anything; (b) never deletes across uids (the
    ``_check_artifact_owner`` rule applied to deletion); (c) the default
    keeps 8 versions because up to ~5 tags per prefix are legitimately
    live at once (three test SFs + the ×10/×100 scale-smoke corpora),
    and the one-workload-at-a-time rule (NOTES.md) means nothing is
    mid-read while a build publishes."""
    m = re.fullmatch(r"(.*)_[0-9a-f]{10}", final_dir)
    if not m:
        return
    prefix = m.group(1)
    sibs = []
    for d in glob.glob(prefix + "_" + "[0-9a-f]" * 10):
        if d == final_dir or not os.path.isdir(d):
            continue
        try:
            st = os.stat(d)
        except OSError:
            continue
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            continue  # never cross-uid delete
        sibs.append((st.st_mtime, d))
    sibs.sort(reverse=True)
    # the just-published artifact counts toward the budget
    for _, d in sibs[max_versions - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def _sweep_global_budget(
    final_dir: str, budget_bytes: int | None = None
) -> None:
    """Per-uid TOTAL-bytes budget across ALL artifact prefixes (VERDICT
    r10 #7): the per-prefix keep-8 sweep bounds versions per prefix, but
    the number of prefixes grows with the query surface, so the combined
    temp footprint was unbounded globally.  On publish, if this uid's
    artifact directories under the same temp root together exceed the
    budget (``PARQUERY_SPARK_ARTIFACT_BUDGET_BYTES``, default 4 GiB), reap
    OLDEST-FIRST by mtime until back under it.

    Same guards as the per-prefix sweep: runs only on the build path;
    only directories matching the ``pqs_{...}_{10-hex}`` naming scheme;
    never across uids; never the just-published artifact (every other
    artifact is rebuildable from its key, so reclamation costs a rebuild,
    never correctness)."""
    if budget_bytes is None:
        budget_bytes = int(
            os.environ.get(
                "PARQUERY_SPARK_ARTIFACT_BUDGET_BYTES", str(4 << 30)
            )
        )
    root = os.path.dirname(final_dir)
    name_pat = re.compile(r"pqs_.+_[0-9a-f]{10}")
    entries = []
    for d in glob.glob(os.path.join(root, "pqs_*")):
        if not os.path.isdir(d) or not name_pat.fullmatch(
            os.path.basename(d)
        ):
            continue
        try:
            st = os.stat(d)
        except OSError:
            continue
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            continue  # never cross-uid delete
        size = 0
        for dirpath, _dirs, files in os.walk(d, onerror=lambda e: None):
            for f in files:
                try:
                    size += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
        entries.append((st.st_mtime, size, d))
    total = sum(s for _, s, _ in entries)
    if total <= budget_bytes:
        return
    entries.sort()  # oldest first
    for _, size, d in entries:
        if d == final_dir:
            continue
        shutil.rmtree(d, ignore_errors=True)
        total -= size
        if total <= budget_bytes:
            break


def _check_artifact_owner(final_dir: str) -> None:
    """Artifacts live at predictable names under the shared temp root; on
    a multi-user host another local user could squat/poison the path and
    queries would silently read foreign data.  Trust a pre-existing
    artifact only if we own it."""
    st = os.stat(final_dir)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise PermissionError(
            f"artifact directory {final_dir!r} is owned by uid "
            f"{st.st_uid}, not this process (uid {os.getuid()}) — "
            "refusing to read a foreign temp artifact; remove it or set "
            "a private TMPDIR"
        )


#: the flock :func:`clear` takes, held for the rest of the process
_clear_lock = None


def clear() -> None:
    """Delete every artifact under the temp root, so the next run rebuilds
    each one and its cost lands on the query that owns it.

    Takes an exclusive per-uid lockfile first: a concurrent gate/bench/
    session mid-read or mid-publish of an artifact would otherwise see its
    directory vanish (the one-workload-at-a-time rule, enforced instead of
    commented).  The lock is opened ``O_NOFOLLOW`` and must be owned by
    this uid — a fixed shared-temp name is a squatting/symlink surface —
    and stays held until the process exits.  Raises ``RuntimeError``
    instead of racing.  Scale-smoke FIXTURES (``*smoke*``) are not
    artifacts and are kept: rebuilding them costs minutes of table
    writes."""
    import fcntl

    global _clear_lock
    tmp = tempfile.gettempdir()
    lock_path = os.path.join(tmp, f"pqs_audit.{os.getuid()}.lock")
    fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY | os.O_NOFOLLOW, 0o600)
    if os.fstat(fd).st_uid != os.getuid():
        os.close(fd)
        raise RuntimeError(f"{lock_path} is owned by another uid; refusing")
    lock = os.fdopen(fd, "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        lock.close()
        raise RuntimeError(
            f"another fresh-artifacts run holds {lock_path}; "
            "refusing to race artifact deletion"
        ) from None
    for d in glob.glob(os.path.join(tmp, "pqs_*")):
        if "smoke" in d:
            continue
        if os.path.basename(d).startswith("pqs_audit."):
            continue  # the lockfile(s) themselves
        shutil.rmtree(d, ignore_errors=True)
    _clear_lock = lock
