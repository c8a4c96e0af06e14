"""Lineage-cut materialization with an optional SINK-BACKED mode.

``localCheckpoint`` stores its blocks in executor storage memory
(MEMORY_AND_DISK) and is non-fault-tolerant — the lineage is truncated,
so a lost executor cannot recompute (guide §5; the exact pattern behind
the r15 t42 sf1 crash warnings).  At bench SF it is the cheapest
barrier; at 100 TB iteration state and funnel manifests must not pin
storage memory or die with an executor.

Setting ``SPARK_GRAFT_CKPT_DIR`` switches every caller of
:func:`materialize` to a parquet round-trip under that directory —
durable, bounded by disk, re-readable after any executor loss — without
touching call sites (round-15 verdict item 7).  Unset (the default, and
the bench configuration) the behavior is byte-for-byte the historical
``localCheckpoint`` path, so driver bench comparisons stay valid.

Sink-backed mode needs ONE POSIX path that the driver and every
executor see (a local directory on one host, or a shared mount such as
NFS): the driver creates and deletes sink directories with ``os`` /
``shutil`` while executors write and read the parquet.  A remote URI
(``hdfs://``, ``s3://``, any scheme but ``file:``) is rejected with
``ValueError`` — the driver could neither create nor delete it, so every
sink would leak.

Rotation predecessors are freed through :func:`release`: RDD handles
are unpersisted, sink paths are deleted.  Every sink path is unique per
call (uuid4), so nothing is ever shared across runs — this is
intra-query materialization, not a cache.
"""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def ckpt_dir() -> str | None:
    """The sink-backed materialization root, or None for the in-memory
    ``localCheckpoint`` default."""
    return os.environ.get("SPARK_GRAFT_CKPT_DIR") or None


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage.  Default: ``localCheckpoint(eager)``.
    With ``SPARK_GRAFT_CKPT_DIR`` set: write parquet under a unique
    sub-directory and read it back (always eager — the write IS the
    materialization).  Returns the barriered frame; pair with
    :func:`handle_of` / :func:`release` when rotating iteration
    state."""
    d = ckpt_dir()
    if d is None:
        return df.localCheckpoint(eager=eager)
    url = urlparse(d)
    if url.scheme not in ("", "file"):
        raise ValueError(
            f"SPARK_GRAFT_CKPT_DIR={d!r}: sink-backed mode needs a POSIX "
            "path shared by the driver and every executor, not a "
            f"{url.scheme}:// URI"
        )
    d = os.path.abspath(url.path if url.scheme else d)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"mat_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    out._graft_sink_path = path  # release() deletes it
    return out


def handle_of(df: DataFrame):
    """Opaque cleanup handle for a frame returned by
    :func:`materialize` in sink-backed mode (the parquet path), or
    None in the default mode (callers keep their RDD-handle logic)."""
    return getattr(df, "_graft_sink_path", None)


def release(handle) -> None:
    """Free a materialized frame: delete its sink directory (string
    handles) or unpersist its JVM RDD.  Best-effort: cleanup must never
    fail the algorithm."""
    if isinstance(handle, str):
        shutil.rmtree(handle, ignore_errors=True)
    elif handle is not None:
        try:
            handle.unpersist(False)
        except Exception:
            pass
