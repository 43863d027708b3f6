"""The resumable extraction job — claim loop over logical partitions.

Mirrors the reference's queue semantics (SURVEY.md §2.9) on Spark:

  * Q1 state machine + Q2 crash recovery: CheckpointStore;
  * Q4 retries: failed partitions return to 'queued' with an attempt
    counter, up to max_attempts (mistral.ts:9-10 maxRetries analog);
  * Q6 chunk fan-out: logical partition = pmod(xxhash64(conv_id), P) —
    conversations never straddle partitions, so per-conv assembly
    stays partition-local; the salt keeps long conversations from
    skewing *file* sizes (rows within a conv spread over input splits
    are still processed by independent tasks — extraction is per-row);
  * Q9 per-unit persistence: each partition's output becomes durable
    (committed) independently; a crash loses at most in-flight
    partitions, and re-running them is idempotent (S5 MERGE key).

Efficiency at scale: the job makes ONE pass over the input per run —
all uncommitted partitions are staged in a single Spark write with
``partitionBy(pid)`` (each task writes only its partitions' files),
then promoted per-partition. Resume scans only the pruned subset
(pid pushdown via pmod filter at the scan).

The Python hop is sized to the rows a run restages. Every Python task
pays a fixed worker set-up whatever its row count (~0.25 s of CPU,
measured on a 4-core VM under Python 3.11), so a resume or incremental
run that restages fewer rows than ``splits x maxRecordsPerBatch``
repartitions them into ``ceil(rows / maxRecordsPerBatch)`` tasks before
the hop. The row count is the exact one the run's fingerprint pass
already returned; a run that fills its splits keeps the shuffle-free
scan -> hop plan.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from v2_ocr_spark.operators.extract import extract_turns
from v2_ocr_spark.pipeline.sink import (
    COMPLETED,
    ERROR,
    PROCESSING,
    QUEUED,
    CheckpointStore,
    MergeSink,
    SinkLease,
    held_lease,
)


def partition_id(col: str = "conv_id", num_partitions: int = 32) -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_partitions)).cast("int")


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        out_dir: str,
        num_partitions: int = 32,
        max_attempts: int = 3,
        lease_ttl_seconds: float = 600.0,
    ):
        self.spark = spark
        self.input_path = input_path
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.max_attempts = max_attempts
        self.lease_ttl = lease_ttl_seconds
        self.sink = MergeSink(out_dir)
        self.checkpoints = CheckpointStore(out_dir)

    # ---------------------------------------------------------------

    def pending_partitions(self) -> list[int]:
        committed = set(self.sink.committed())
        pending = []
        for pid in range(self.num_partitions):
            if pid in committed:
                continue
            state = self.checkpoints.get(pid)
            if state["status"] == ERROR and state["attempt"] >= self.max_attempts:
                continue  # exhausted retries; stays visible in checkpoints
            pending.append(pid)
        return pending

    def input_fingerprints(
        self, pids: list[int] | None = None
    ) -> dict[int, dict]:
        """Per-partition input fingerprint: (row count, order-independent
        bit_xor of xxhash64(conv_id, turn_idx, ts)). One narrow agg scan
        (3 columns, map-side partial) — detects appended, removed or
        re-keyed turns without reading text. In-place text edits are
        outside the change model (transcript stores are append-only
        event logs); re-run non-incrementally to force full recompute.
        """
        df = self.spark.read.parquet(self.input_path).withColumn(
            "pid", partition_id("conv_id", self.num_partitions)
        )
        if pids is not None and len(pids) < self.num_partitions:
            df = df.where(F.col("pid").isin(pids))
        rows = (
            df.groupBy("pid")
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(conv_id, turn_idx, ts))").alias("sig"),
            )
            .collect()
        )
        return {
            int(r.pid): {"input_rows": int(r.n), "input_sig": int(r.sig or 0)}
            for r in rows
        }

    def changed_partitions(self, fps: dict[int, dict]) -> list[int]:
        """Committed partitions whose CURRENT input fingerprint differs
        from the one recorded at commit time (missing baseline counts
        as changed — correctness over skipping — EXCEPT for partitions
        born outside batch extraction, see below)."""
        changed = []
        for pid, commit in self.sink.committed().items():
            m = commit.get("metrics", {})
            if "input_rows" not in m and m.get("op"):
                # a maintenance/stream-landed commit ('op' set) with NO
                # batch baseline: this partition's content never came
                # from input_path (e.g. stream_extract_upsert bootstrap
                # — the STREAM was its extraction), so there is nothing
                # to compare the batch fingerprint against, and
                # re-extracting it from input_path would silently WIPE
                # every streamed row. Skipped, never 'changed'.
                # (Maintenance over batch-extracted partitions carries
                # the baseline forward, so it never lands here.)
                continue
            cur = fps.get(pid, {"input_rows": 0, "input_sig": 0})
            if (m.get("input_rows"), m.get("input_sig")) != (
                cur["input_rows"], cur["input_sig"],
            ):
                changed.append(pid)
        return changed

    def _stage(self, run_id: str, pids: list[int], rows: int,
               fault: Callable[[DataFrame], DataFrame] | None) -> None:
        df = self.spark.read.parquet(self.input_path)
        df = df.withColumn("pid", partition_id("conv_id", self.num_partitions))
        if len(pids) < self.num_partitions:
            df = df.where(F.col("pid").isin(pids))  # resume: pruned rescan
        batch = int(self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
        hop_tasks = max(1, -(-rows // batch))
        if hop_tasks < df.rdd.getNumPartitions():
            # fewer rows than the splits' Arrow batches: each split would
            # start a Python task for a sliver of a batch, and each task
            # costs the same worker set-up whatever its row count
            df = df.repartition(hop_tasks)
        extracted = extract_turns(
            df.select("conv_id", "turn_idx", "role", "text", "tool"),
            with_metrics=True,
        ).withColumn("pid", partition_id("conv_id", self.num_partitions))
        if fault is not None:
            extracted = fault(extracted)
        # schema sidecar BEFORE staging: keeps the table readable even
        # if every partition later empties (see MergeSink.record_schema)
        self.sink.record_schema(extracted.schema)
        (
            extracted
            .repartition("pid")
            .sortWithinPartitions("conv_id", "turn_idx")  # W1 at rest
            .write.partitionBy("pid")
            .mode("overwrite")
            .parquet(self.sink.staging_dir(run_id))
        )

    def _stage_metrics(self, run_id: str, pids: list[int]) -> dict[int, dict]:
        """Per-partition metrics for the whole staging dir in ONE Spark
        job (a per-partition agg job each would serialize the commit
        loop — 32 scheduler round-trips instead of one groupBy)."""
        empty = {"turns_seen": 0, "nodes_seen": 0, "blocks_kept": 0,
                 "blocks_dropped": 0, "turns_errored": 0,
                 "chars_in": 0, "chars_out": 0, "proc_ms": 0}
        from pyspark.errors import AnalysisException

        reader = self.spark.read
        schema = self.sink.stored_schema()
        if schema is not None:
            # _stage recorded the staged schema: reading with it skips
            # a footer-inference job
            reader = reader.schema(schema)
        try:
            staged = reader.parquet(self.sink.staging_dir(run_id))
        except AnalysisException:  # nothing staged at all (no footer)
            # ONLY the missing/empty-staging case falls back to zeroed
            # metrics — a blanket except here would swallow a transient
            # read failure and promote real data with turns_seen=0,
            # permanently corrupting the commit lineage
            return {pid: dict(empty) for pid in pids}
        rows = (
            staged.groupBy("pid")
            .agg(
                F.count("*").alias("turns"),
                F.sum("nodes_seen").alias("nodes"),
                F.sum("n_spans").alias("kept"),
                F.count(F.when(F.col("error").isNotNull(), 1)).alias("errs"),
                F.sum("chars_in").alias("ci"),
                F.sum("chars_out").alias("co"),
                F.sum("proc_us").alias("us"),
            )
            .collect()
        )
        out = {pid: dict(empty) for pid in pids}
        for r in rows:
            out[int(r.pid)] = {
                "turns_seen": r.turns or 0,
                "nodes_seen": int(r.nodes or 0),
                "blocks_kept": int(r.kept or 0),
                "blocks_dropped": int((r.nodes or 0) - (r.kept or 0)),
                "turns_errored": int(r.errs or 0),
                "chars_in": int(r.ci or 0),
                "chars_out": int(r.co or 0),
                "proc_ms": int((r.us or 0) // 1000),
            }
        return out

    # ---------------------------------------------------------------

    def run(
        self,
        fault: Callable[[DataFrame], DataFrame] | None = None,
        fail_before_promote: set[int] | None = None,
        incremental: bool = False,
    ) -> dict:
        """One claim-loop pass. Returns a summary. ``fault`` /
        ``fail_before_promote`` are test hooks for crash injection.

        ``incremental=True`` additionally re-extracts committed
        partitions whose input fingerprint changed since their commit
        (new data arriving in an append-only store) — the Iceberg
        incremental-scan analog: only 1/P of the table recomputes per
        appended conversation, not the whole job."""
        run_id = uuid.uuid4().hex[:12]
        # ONE driver owns a sink at a time: the claim loop's
        # checkpoint get+set is not cross-process atomic, so ownership
        # is enforced up front — a second concurrent driver fails its
        # claim cleanly with LeaseHeld instead of double-promoting.
        # held_lease keeps a heartbeat fresh for the whole run (a long
        # stage must never look like a dead owner); if the lease is
        # somehow lost anyway, the event stops promotion before any
        # partition publishes.
        with held_lease(self.out_dir, self.lease_ttl) as (lease, lease_lost):
            return self._run_owned(
                run_id, lease, lease_lost, fault, fail_before_promote,
                incremental,
            )

    def _run_owned(
        self,
        run_id: str,
        lease: SinkLease,
        lease_lost,
        fault: Callable[[DataFrame], DataFrame] | None,
        fail_before_promote: set[int] | None,
        incremental: bool,
    ) -> dict:
        # pin/validate the table's partition count before any staging —
        # a second job pointed at the same sink with a different count
        # must fail loudly, not scatter rows
        self.sink.ensure_num_partitions(self.num_partitions)
        # the job owns the sink exclusively: heal any interrupted
        # promote immediately (no grace needed), and sweep stale
        # staging run dirs — a crash between _stage and the promote
        # loop strands a complete staged table copy per attempt, and
        # nothing else ever cleans _staging (repeated crashes would
        # multiply whole-table copies on disk forever)
        import shutil

        self.sink.recover_partials(grace_seconds=0)
        for stale in os.listdir(self.sink.staging_root):
            if stale != run_id:
                shutil.rmtree(
                    os.path.join(self.sink.staging_root, stale),
                    ignore_errors=True,
                )
        self.checkpoints.recover()  # Q2
        pids = self.pending_partitions()
        if incremental:
            fps = self.input_fingerprints()
            # changed COMMITTED partitions respect the same Q4 retry
            # cap as uncommitted ones — without this, a committed
            # partition whose appended input keeps failing _stage is
            # re-selected on every incremental run forever instead of
            # parking at max_attempts (it stays visible in checkpoints)
            changed = [
                p for p in self.changed_partitions(fps)
                if not (
                    (st := self.checkpoints.get(p))["status"] == ERROR
                    and st["attempt"] >= self.max_attempts
                )
            ]
            pids = sorted(set(pids) | set(changed))
        if not pids:
            return {"run_id": run_id, "committed": [], "status": "up-to-date"}
        if not incremental:
            # fingerprint only the partitions being staged (pruned,
            # narrow scan) so future incremental runs have baselines
            fps = self.input_fingerprints(pids)
        rows = sum(fps[p]["input_rows"] for p in pids if p in fps)

        for pid in pids:
            st = self.checkpoints.get(pid)
            self.checkpoints.set(
                pid, status=PROCESSING, run_id=run_id,
                attempt=st["attempt"] + 1, started_at=time.time(),
            )

        try:
            self._stage(run_id, pids, rows, fault)
        except Exception as exc:  # noqa: BLE001
            for pid in pids:
                self.checkpoints.set(
                    pid, status=ERROR, error=f"{type(exc).__name__}: {exc}",
                )
            raise

        # ownership must still hold before anything publishes — if the
        # background heartbeater lost the lease (takeover), promoting
        # now would race the new owner
        if lease_lost.is_set():
            raise RuntimeError(
                f"sink lease for {self.out_dir} was lost during staging; "
                "refusing to promote"
            )
        lease.heartbeat()
        all_metrics = self._stage_metrics(run_id, pids)
        committed = []
        for pid in pids:
            if fail_before_promote and pid in fail_before_promote:
                raise RuntimeError(f"injected crash before promoting pid={pid}")
            all_metrics[pid].update(
                fps.get(pid, {"input_rows": 0, "input_sig": 0})
            )
            commit = self.sink.promote(run_id, pid, all_metrics[pid])
            # attempt resets on success: the cap bounds a FAILURE
            # STREAK, not lifetime failures — a partition that failed
            # twice years ago then succeeded gets a full retry budget
            # when its input next changes
            self.checkpoints.set(
                pid, status=COMPLETED, completed_at=time.time(),
                snapshot_id=commit["snapshot_id"], attempt=0,
            )
            committed.append(pid)
        # every pid dir was renamed out by promote; remove the leftover
        # run dir (_SUCCESS marker) so successful runs don't accumulate
        # one stale staging entry each
        shutil.rmtree(self.sink.staging_dir(run_id), ignore_errors=True)
        return {"run_id": run_id, "committed": committed, "status": "ok"}

    def read_output(self) -> DataFrame:
        return self.sink.read(self.spark)
