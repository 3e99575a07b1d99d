"""Per-stage checkpointing with snapshot versions and lineage metrics — the
resumability layer.

Every pipeline stage commits an immutable SNAPSHOT (Iceberg-style semantics on
plain Parquet, since this sandbox has no Iceberg jars):

    <base>/<stage>/v00001/      parquet files + _SUCCESS + _metrics.json
    <base>/<stage>/v00002/ ...
    <base>/<stage>/_latest      pointer file, flipped with os.replace (atomic)

- **Atomic commit**: a new version is written to a FRESH directory; the
  ``_latest`` pointer flips only after data + metrics are durable. A crash at
  any point leaves the previous snapshot intact and readable — unlike an
  in-place ``mode("overwrite")``, which destroys the old data before the new
  write completes.
- **Time travel**: ``read(stage, version=N)`` / ``metrics(stage, version=N)``
  read any retained snapshot; ``snapshots(stage)`` lists them.
- **Lineage**: every snapshot's ``_metrics.json`` carries one row count per
  committed parquet file, read from that file's footer (the writer's count,
  as in an Iceberg manifest), and — when a packed signature column is
  present — the snapshot's signature popcount min/avg/max, observed on the
  write itself. Before the pointer flips, the footer counts must sum to the
  row count the write observed; a mismatch raises and the previous snapshot
  stays current. The underscore prefix keeps Spark's parquet reader from
  treating the sidecar as data.

A restarted run skips any stage whose latest snapshot is complete, mirroring
the reference's per-iteration structure
(/root/reference/src/StreamingEMTreeExperiments.h:125-137) but durable. With
Iceberg jars on the classpath the same interface maps onto a real catalog
(snapshot commit ≙ table commit, version ≙ snapshot id); the sandbox boundary
is documented here and in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _footer_rows(path: str) -> int:
    """Row count of one parquet file, from its footer — no Spark job."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


class Checkpointer:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # --- snapshot layout -------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _version_dir(self, stage: str, version: int) -> str:
        return os.path.join(self._stage_dir(stage), f"v{version:05d}")

    def _latest_file(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_latest")

    def _complete(self, stage: str, version: int) -> bool:
        d = self._version_dir(stage, version)
        return os.path.exists(os.path.join(d, "_SUCCESS")) and os.path.exists(
            os.path.join(d, "_metrics.json")
        )

    def current_version(self, stage: str) -> int | None:
        """The committed version the ``_latest`` pointer names, or None. A
        pointer to an incomplete directory (impossible under the commit
        protocol, but possible after external tampering) reads as absent."""
        try:
            with open(self._latest_file(stage)) as f:
                v = int(f.read().strip().lstrip("v"))
        except (OSError, ValueError):
            return None
        return v if self._complete(stage, v) else None

    def _versions(self, stage: str) -> list[int]:
        """Every version DIRECTORY of ``stage`` (complete or not), ascending."""
        sd = self._stage_dir(stage)
        if not os.path.isdir(sd):
            return []
        return sorted(
            int(n[1:]) for n in os.listdir(sd) if n.startswith("v") and n[1:].isdigit()
        )

    def snapshots(self, stage: str) -> list[dict]:
        """All complete snapshots, oldest first: (version, rows, committed_at)."""
        out = []
        for v in self._versions(stage):
            if self._complete(stage, v):
                m = self.metrics(stage, v)
                out.append(
                    {
                        "version": v,
                        "rows": m.get("rows"),
                        "committed_at": m.get("committed_at"),
                    }
                )
        return out

    def _next_version(self, stage: str) -> int:
        """One past the highest version DIRECTORY (complete or not) — never
        derived from the pointer, so an invalidated or crashed stage can't
        reuse a number and clobber a retained snapshot."""
        return max(self._versions(stage), default=0) + 1

    # --- public interface ------------------------------------------------

    def exists(self, stage: str) -> bool:
        return self.current_version(stage) is not None

    def write(self, stage: str, df: DataFrame, sig_col: str | None = None) -> DataFrame:
        """Commit a new snapshot + lineage metrics; returns the re-read
        DataFrame (truncated lineage — downstream plans start from the scan).

        Commit protocol: parquet into a fresh version dir → metrics sidecar
        into the same dir → atomic ``_latest`` flip. Every step before the
        flip is invisible to readers; the flip itself is os.replace (atomic on
        POSIX and on any correct HDFS/S3A rename-capable committer). The
        write is the only Spark job: row count and popcount distribution are
        observed on it, per-file counts come from the parquet footers, and
        the re-read takes ``df``'s schema instead of inferring one."""
        t0 = time.time()
        version = self._next_version(stage)
        vdir = self._version_dir(stage, version)
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows")]
        if sig_col is not None and sig_col in df.columns:
            pop = F.aggregate(
                F.transform(sig_col, lambda w: F.bit_count(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            aggs += [
                F.min(pop).alias("pop_min"),
                F.avg(pop).alias("pop_avg"),
                F.max(pop).alias("pop_max"),
            ]
        # fresh dir; overwrite is for retries
        df.observe(obs, *aggs).write.mode("overwrite").parquet(vdir)
        observed = obs.get
        partitions = [
            {"file": n, "rows": _footer_rows(os.path.join(vdir, n))}
            for n in sorted(os.listdir(vdir))
            if n.startswith("part-")
        ]
        footer_rows = sum(p["rows"] for p in partitions)
        if footer_rows != observed["rows"]:
            raise RuntimeError(
                f"{stage} v{version:05d}: parquet footers hold {footer_rows} rows, "
                f"the write observed {observed['rows']}; not committed"
            )
        metrics = {
            "stage": stage,
            "version": version,
            **observed,
            "write_seconds": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": partitions,
        }
        with open(os.path.join(vdir, "_metrics.json"), "w") as f:
            json.dump(metrics, f, indent=1, default=str)
        tmp = self._latest_file(stage) + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"v{version:05d}")
        os.replace(tmp, self._latest_file(stage))
        return self.spark.read.schema(df.schema).parquet(vdir)

    def read(self, stage: str, version: int | None = None) -> DataFrame:
        """Read the latest snapshot, or ``version`` for time travel."""
        v = self.current_version(stage) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot for stage {stage!r}")
        return self.spark.read.parquet(self._version_dir(stage, v))

    def stage(self, stage: str, build, sig_col: str | None = None) -> DataFrame:
        """Resume-or-build: reuse the latest complete snapshot, else build and
        commit a new one. ``build`` is a zero-arg callable returning the stage
        DataFrame."""
        if self.exists(stage):
            return self.read(stage)
        return self.write(stage, build(), sig_col)

    def invalidate(self, stage: str) -> None:
        """Force the next ``stage()`` call to rebuild: drop the pointer.
        Snapshots are retained (still time-travel-readable by version)."""
        try:
            os.remove(self._latest_file(stage))
        except FileNotFoundError:
            pass

    def remove(self, *stages: str) -> None:
        """Delete every snapshot of ``stages`` — for consumed intermediates.
        Unlike :meth:`invalidate`, nothing stays readable by version."""
        import shutil

        for stage in stages:
            shutil.rmtree(self._stage_dir(stage), ignore_errors=True)

    def metrics(self, stage: str, version: int | None = None) -> dict:
        v = self.current_version(stage) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot for stage {stage!r}")
        with open(os.path.join(self._version_dir(stage, v), "_metrics.json")) as f:
            return json.load(f)

    def expire_plan(self, stage: str, keep_last: int = 2) -> list[dict]:
        """Snapshot retention + orphan-sweep planning — the Iceberg
        ``expire_snapshots`` / ``remove_orphan_files`` maintenance pair: the
        newest ``keep_last`` complete snapshots AND the ``_latest`` pointer
        target are kept (the pointer can lag after an external rollback —
        never expire what readers resolve); every other complete snapshot is
        ``expire``; incomplete version directories (crashed writes — parquet
        landed, commit never finished) are ``orphan``. Plan only — one row
        per version dir with (version, complete, is_current, action); this is
        metadata listing, O(snapshots), so the data files are untouched until
        :meth:`expire` executes it."""
        vs = self._versions(stage)
        cur = self.current_version(stage)
        complete = [v for v in vs if self._complete(stage, v)]
        keep = set(complete[-keep_last:] if keep_last > 0 else [])
        if cur is not None:
            keep.add(cur)
        plan = []
        for v in vs:
            done = self._complete(stage, v)
            action = "keep" if v in keep else ("expire" if done else "orphan")
            plan.append(
                {
                    "version": v,
                    "complete": int(done),
                    "is_current": int(v == cur),
                    "action": action,
                }
            )
        return plan

    def expire(self, stage: str, keep_last: int = 2) -> list[dict]:
        """Execute :meth:`expire_plan`: remove expired snapshots and orphan
        dirs. Time travel to a removed version raises afterwards (the Iceberg
        contract); the pointer target is never removed, so ``read()``/
        ``stage()`` semantics are unaffected."""
        import shutil

        plan = self.expire_plan(stage, keep_last)
        for row in plan:
            if row["action"] in ("expire", "orphan"):
                shutil.rmtree(
                    self._version_dir(stage, row["version"]), ignore_errors=True
                )
        return plan


def snapshot_diff(
    ck: "Checkpointer",
    stage: str,
    v_old: int,
    v_new: int,
    id_col: str,
) -> DataFrame:
    """Row-level CDC between two committed versions of a stage: which ids were
    added and which removed (the resume-delta / corpus-drift report between
    two builds). Anti-joins in both directions — the Spark shape SURVEY §2.11
    assigns to "not yet processed" deltas; id-only projections, so at scale
    the diff reads two narrow columns of each snapshot, never payloads.
    Returns ``(id, change)`` with change in {'added', 'removed'}."""
    from pyspark.sql import functions as F

    old = ck.read(stage, version=v_old).select(id_col)
    new = ck.read(stage, version=v_new).select(id_col)
    added = new.join(old, id_col, "left_anti").withColumn("change", F.lit("added"))
    removed = old.join(new, id_col, "left_anti").withColumn("change", F.lit("removed"))
    return added.unionByName(removed)
