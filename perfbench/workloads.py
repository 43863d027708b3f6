"""The benchmark's workloads. Each is a closed loop: one op at a time,
the next issued only when the previous returns, as one driver owns a
sink (``pipeline/sink.py`` ``SinkLease``).

A workload has:
  * ``setup()``    one repeatable set-up: make the seed's inputs and the
                   program state the first op starts from;
  * ``op()``       the timed call into the program; returns the number
                   of input rows it processed;
  * ``check()``    the output gate, run untimed after every op; returns
                   the list of mismatches;
  * ``stored_ratio()``  committed output bytes per input byte;
  * ``trace(tr)``  the traced op plus the layer probes, -> per-layer
                   metrics.

Layer probes time calls into each layer's public functions from here;
no module of the program is changed or patched globally. Wrappers go
on the one job instance the traced op uses.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import inputs
from harness import Tracer

from v2_ocr_spark.kernels import KERNELS
from v2_ocr_spark.kernels.xxh import xxh64_str
from v2_ocr_spark.operators import dedup
from v2_ocr_spark.pipeline.runner import ExtractionJob

NUM_PARTITIONS = 32  # ExtractionJob's default logical partition count
KERNEL_BATCH = 4096  # the session's Arrow batch size
KINDS = tuple(KERNELS)

EXTRACT_COLS = ["conv_id", "turn_idx", "extracted_text", "spans", "error"]


def force(df) -> list:
    """Aggregate a hash of every column, so no output column can be
    pruned away from the measured plan."""
    return df.agg(
        F.count(F.lit(1)),
        *[F.bit_xor(F.xxhash64(F.col(c))) for c in df.columns],
    ).collect()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))


def committed_rows(sink) -> pa.Table:
    files = []
    for p in sink.committed_paths():
        files.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))))
    if not files:
        return pa.table({c: [] for c in EXTRACT_COLS})
    return pa.concat_tables(
        [pq.read_table(f, columns=EXTRACT_COLS) for f in files]
    )


def extraction_mismatches(sink, expected: pa.Table) -> list[str]:
    """Every committed (conv_id, turn_idx, extracted_text, spans, error)
    against the generator's expected table: no missing, extra or
    duplicate keys, equal text and spans, no error."""
    keys = [("conv_id", "ascending"), ("turn_idx", "ascending")]
    got = committed_rows(sink).sort_by(keys)
    want = expected.sort_by(keys)
    errs = []
    if got.num_rows != want.num_rows:
        errs.append(f"{got.num_rows} committed rows, {want.num_rows} expected")
        return errs
    for col in ("conv_id", "turn_idx"):
        if not got.column(col).equals(want.column(col).cast(
                got.schema.field(col).type)):
            errs.append(f"committed keys differ from expected ({col})")
            return errs
    if not got.column("extracted_text").equals(
            want.column("expected_text")):
        errs.append("extracted_text differs from expected")
    spans_t = got.schema.field("spans").type
    if not got.column("spans").equals(
            want.column("expected_spans").cast(spans_t)):
        errs.append("spans differ from expected")
    n_err = got.num_rows - got.column("error").null_count
    if n_err:
        errs.append(f"{n_err} committed rows carry an error")
    return errs


def pid_of(conv_id: str) -> int:
    """ExtractionJob's logical partition of a conversation."""
    return xxh64_str(conv_id) % NUM_PARTITIONS


def append_batches(pool: list[str], n: int,
                   skip_pid: int) -> list[list[str]]:
    """``pool`` in order, dealt into batches of ``n`` conversations that
    lie in ``n`` distinct partitions, none of them ``skip_pid``; batches
    come out in the order they fill, the unfilled rest is dropped."""
    done, open_ = [], []
    for conv in pool:
        pid = pid_of(conv)
        if pid == skip_pid:
            continue
        batch = next((b for b in open_
                      if pid not in {pid_of(c) for c in b}), None)
        if batch is None:
            batch = []
            open_.append(batch)
        batch.append(conv)
        if len(batch) == n:
            open_.remove(batch)
            done.append(batch)
    return done


def wrap_job(job: ExtractionJob, tr: Tracer) -> dict:
    """Timing wrappers on one job instance's public methods and on its
    sink and checkpoint store; counts land in ``tr.counts``. Returns a
    record of the partitions the job staged and the input fingerprints
    it last computed."""
    seen = {"pids": [], "fingerprints": {}}
    job.run = tr.wrap(job.run, "runner.run")
    fingerprint = job.input_fingerprints

    def fingerprint_kept(pids=None):
        fps = fingerprint(pids)
        seen["fingerprints"].update(fps)
        return fps

    job.input_fingerprints = tr.wrap(fingerprint_kept, "runner.fingerprint")
    promote = job.sink.promote

    def promote_counted(run_id, pid, metrics):
        staged = os.path.join(job.sink.staging_dir(run_id), f"pid={pid}")
        tr.count("sink.files_written",
                 len(glob.glob(os.path.join(staged, "*.parquet"))))
        return promote(run_id, pid, metrics)

    job.sink.promote = tr.wrap(promote_counted, "sink.promote")
    set_state = job.checkpoints.set

    def set_counted(pid, **updates):
        if updates.get("status") == "processing":
            seen["pids"].append(pid)
        return set_state(pid, **updates)

    job.checkpoints.set = tr.wrap(set_counted, "sink.checkpoint")
    return seen


def kernel_layer(table: pa.Table, expected: pa.Table) -> dict:
    """Driver-side calls of ``KERNELS[kind]`` over the rows of each
    kind, in Arrow-batch-sized slices."""
    kinds = expected.select(["conv_id", "turn_idx", "payload_kind"])
    joined = table.select(["conv_id", "turn_idx", "text"]).join(
        kinds, ["conv_id", "turn_idx"])
    out = {}
    for kind in KINDS:
        texts = joined.filter(
            pc.equal(joined.column("payload_kind"), kind)
        ).column("text").to_pandas()
        t0 = time.perf_counter()
        for i in range(0, len(texts), KERNEL_BATCH):
            KERNELS[kind](texts.iloc[i:i + KERNEL_BATCH])
        out[f"kernels.{kind}.s"] = time.perf_counter() - t0
        out[f"kernels.{kind}.rows"] = len(texts)
    return out


def echo_hop(df) -> tuple[float, float]:
    """A passthrough ``mapInPandas`` over ``df``, every column forced:
    -> (seconds, rows per Arrow batch the Python side received)."""
    batches = df.sparkSession.sparkContext.accumulator(0)

    def echo(it):
        for batch in it:
            batches.add(1)
            yield batch

    t0 = time.perf_counter()
    rows = force(df.mapInPandas(echo, schema=df.schema))[0][0]
    return time.perf_counter() - t0, rows / max(batches.value, 1)


def extract_layer(df) -> dict:
    """``extract_turns`` over the cached input with every output column
    forced, against a passthrough hop over the same input columns: the
    fixed cost of the Python hop."""
    from v2_ocr_spark.operators.extract import extract_turns, with_payload_kind

    src = df.select("conv_id", "turn_idx", "role", "text", "tool").persist()
    try:
        src.count()
        echo_s, per_batch = echo_hop(with_payload_kind(src).select(
            "conv_id", "turn_idx", "text", "payload_kind"))
        t0 = time.perf_counter()
        force(extract_turns(src))
        extract_s = time.perf_counter() - t0
    finally:
        src.unpersist()
    return {"extract.s": extract_s, "extract.echo_s": echo_s,
            "spark.python_rows_per_batch": per_batch}


# ---------------------------------------------------------------------


class Workload:
    name = ""
    warm_ops = 1  # untimed ops before the measured ones

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.work, self.name)
        self.trace_errors: list[str] = []

    def traced_op(self, tr: Tracer, *args) -> dict:
        """One op with spans on, under its own Spark job group; -> the
        group's Spark metrics, the op's peak resident memory (JVM plus
        Python workers) and its wall time."""
        probe = self.ctx.probe
        before = probe.persisted()
        self.ctx.sampler.reset()
        with probe.group("traced") as sm:
            with tr.span(f"op.{self.name}") as root:
                self.op(*args)
        peak = self.ctx.sampler.peak_mb()
        tr.op += 1  # later spans belong to the layer probes
        self.trace_errors += self.check()
        return {**{f"spark.{k}": v for k, v in sm.items()},
                "spark.leaked_persists": probe.persisted() - before,
                "memory.peak_rss_mb": peak,
                "trace.job_s": root["end"] - root["start"]}

    def warm(self) -> list[str]:
        """The untimed op that warms the JVM and the Python workers."""
        self.op()
        return self.check()


class BulkExtract(Workload):
    """Cold ``ExtractionJob.run()`` over the seed's table into an empty
    sink: kernels and the Python hop do most of the work, and the sink
    makes one large write."""

    name = "bulk_extract"
    N_CONVS = 1_000
    # the CPU time per op settles after the fourth op of a new JVM; the
    # other workload's three set-ups are full extraction runs already
    warm_ops = 4

    def setup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.table, self.expected = inputs.transcripts(self.ctx.seed,
                                                       self.N_CONVS)
        self.in_dir = os.path.join(self.dir, "in")
        self.input_bytes = inputs.write_table(
            self.table, os.path.join(self.in_dir, "part-00000.parquet"))
        self.n_op = 0

    def new_job(self) -> ExtractionJob:
        shutil.rmtree(os.path.join(self.dir, f"run{self.n_op}"),
                      ignore_errors=True)
        self.n_op += 1
        return ExtractionJob(
            self.spark, self.in_dir,
            os.path.join(self.dir, f"run{self.n_op}", "extracted"),
            num_partitions=NUM_PARTITIONS)

    def op(self, job: ExtractionJob | None = None) -> int:
        self.job = job or self.new_job()
        res = self.job.run()
        if res["status"] != "ok" or len(res["committed"]) != NUM_PARTITIONS:
            raise RuntimeError(f"cold run committed {res}")
        return self.table.num_rows

    def check(self) -> list[str]:
        return extraction_mismatches(self.job.sink, self.expected)

    def stored_ratio(self) -> float:
        return dir_bytes(self.job.sink.data_dir) / self.input_bytes

    def trace(self, tr: Tracer) -> dict:
        job = self.new_job()
        staged = wrap_job(job, tr)
        m = self.traced_op(tr, job)
        m["runner.partitions_staged"] = len(staged["pids"])
        # a cold run extracts every row once, and every row is new
        m["runner.rows_restaged_per_new_row"] = 1.0
        m.update(kernel_layer(self.table, self.expected))
        m.update(extract_layer(self.spark.read.parquet(self.in_dir)))
        tail, errs = training_tail(
            self.ctx, tr, self.in_dir, os.path.dirname(job.out_dir),
            n_convs=self.N_CONVS + 1, n_turns=self.table.num_rows)
        self.trace_errors += errs
        m.update(tail)
        return m


class IncrementalResume(Workload):
    """Starts from a sink committed in set-up. One op appends a seeded
    handful of conversations as a new input file, runs an incremental
    pass that crashes before promoting the last of their partitions,
    then resumes. The same runner and sink as bulk_extract, but as many
    small writes: fixed per-run costs dominate and the kernels do
    little."""

    name = "incremental_resume"
    # the set-ups warm the extraction path, but not the crash and the
    # resume: the first op after them still runs slower
    warm_ops = 2
    N_BASE = 600
    POOL = 300  # generated conversations held back for appends
    # conversations appended per op, each in a partition of its own and
    # none in the skew conversation's: with a crash always before the
    # last promote, every op restages the same number of partitions of
    # about the same size
    APPEND = 4

    def setup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        table, expected = inputs.transcripts(self.ctx.seed,
                                             self.N_BASE + self.POOL)
        ids = inputs.conv_ids_in(table)
        pool = [c for c in ids if c != "convskew00"][self.N_BASE:]
        self.present = [c for c in ids if c not in set(pool)]
        random.Random(self.ctx.seed).shuffle(pool)
        self.batches = append_batches(pool, self.APPEND,
                                      skip_pid=pid_of("convskew00"))
        self.table, self.all_expected = table, expected
        self.in_dir = os.path.join(self.dir, "in")
        base = inputs.take_convs(table, self.present)
        self.n_rows = base.num_rows
        self.input_bytes = inputs.write_table(
            base, os.path.join(self.in_dir, "part-00000.parquet"))
        self.job = ExtractionJob(self.spark, self.in_dir,
                                 os.path.join(self.dir, "extracted"),
                                 num_partitions=NUM_PARTITIONS)
        res = self.job.run()
        if res["status"] != "ok":
            raise RuntimeError(f"base commit: {res}")

    def op(self, job: ExtractionJob | None = None) -> int:
        job = job or self.job
        if not self.batches:
            raise RuntimeError("append pool exhausted")
        batch = self.batches.pop(0)
        part = inputs.take_convs(self.table, batch)
        crash_pid = max(pid_of(c) for c in batch)
        self.input_bytes += inputs.write_table(part, os.path.join(
            self.in_dir, f"part-{len(self.present):05d}.parquet"))
        self.present += batch
        self.new_rows = part.num_rows
        self.n_rows += part.num_rows
        try:
            job.run(incremental=True, fail_before_promote={crash_pid})
        except RuntimeError as exc:
            if "injected crash" not in str(exc):
                raise
        else:
            raise RuntimeError(f"pid {crash_pid} was not restaged")
        res = job.run(incremental=True)
        if res["status"] != "ok" or crash_pid not in res["committed"]:
            raise RuntimeError(f"resume committed {res}")
        # every op fingerprints the whole input and brings all of it up
        # to date
        return self.n_rows

    def check(self) -> list[str]:
        return extraction_mismatches(
            self.job.sink, inputs.take_convs(self.all_expected, self.present))

    def stored_ratio(self) -> float:
        return dir_bytes(self.job.sink.data_dir) / self.input_bytes

    def trace(self, tr: Tracer) -> dict:
        job = ExtractionJob(self.spark, self.in_dir, self.job.out_dir,
                            num_partitions=NUM_PARTITIONS)
        staged = wrap_job(job, tr)
        m = self.traced_op(tr, job)
        # the crash run and the resume each read and extract every
        # partition they stage in full; only the appended rows are new
        fps = staged["fingerprints"]
        m["runner.partitions_staged"] = len(staged["pids"])
        m["runner.rows_restaged_per_new_row"] = sum(
            fps[p]["input_rows"] for p in staged["pids"]) / self.new_rows
        pids = set(staged["pids"])
        convs = [c for c in self.present if pid_of(c) in pids]
        m.update(kernel_layer(inputs.take_convs(self.table, convs),
                              inputs.take_convs(self.all_expected, convs)))
        m.update(extract_layer(self.spark.read.parquet(self.in_dir).where(
            F.col("conv_id").isin(convs))))
        # the corpus-curation layers ride on this traced run, the
        # shorter of the two; they do not depend on this workload
        corpus_dir = os.path.join(self.dir, "corpus")
        inputs.write_corpus(corpus_dir, self.ctx.seed)
        m.update(curation_layers(self.ctx, tr, corpus_dir))
        return m


TAIL_BUDGET = 2048  # run_extract_clean_pipeline's default pack budget


def tail_mismatches(out_dir: str, summary: dict, n_convs: int,
                    n_turns: int) -> list[str]:
    """The composed job's gates: outcomes cover every conversation,
    every kept document is packed exactly once, every document sits in
    the window its first token lands in, and the extraction lineage
    saw every input turn without error."""
    errs = []
    outcomes = sum(o["n_docs"] for o in summary["outcomes"].values())
    if outcomes != n_convs:
        errs.append(f"outcomes cover {outcomes} of {n_convs} conversations")
    ext = summary["extraction"]
    if ext["turns_errored"] or ext["turns_seen"] != n_turns:
        errs.append(f"extraction lineage {ext}, {n_turns} input turns")
    kept = pq.read_table(os.path.join(out_dir, "clean"), columns=["doc_id"])
    packed = pq.read_table(os.path.join(out_dir, "packed"))
    ids = packed.column("doc_id").to_pylist()
    if len(ids) != len(set(ids)) or set(ids) != set(
            kept.column("doc_id").to_pylist()):
        errs.append("kept documents are not packed exactly once")
    if len(ids) != summary["kept_docs"]:
        errs.append(f"{len(ids)} packed, summary keeps {summary['kept_docs']}")
    window = pc.divide(packed.column("start_token"), TAIL_BUDGET)
    if not pc.all(pc.equal(window.cast(pa.int64()),
                           packed.column("bin").cast(pa.int64()))).as_py():
        errs.append("a document is packed outside its budget window")
    return errs


def training_tail(ctx, tr: Tracer, input_path: str, out_dir: str,
                  n_convs: int, n_turns: int) -> tuple[dict, list[str]]:
    """The training-corpus tail over the sink the extraction op just
    committed: once as the composed ``run_extract_clean_pipeline``
    (extraction is up to date, so it runs the tail only), then stage by
    stage through the same public functions, each stage materialized
    before the next. -> (layer metrics, gate mismatches)."""
    from v2_ocr_spark.operators.assemble import assemble
    from v2_ocr_spark.operators.corpus import corpus_filter_for, token_pack_for
    from v2_ocr_spark.operators.textstats import token_counts_for
    from v2_ocr_spark.pipeline.compose import run_extract_clean_pipeline

    spark, probe = ctx.spark, ctx.probe
    dedup.clear_pairs_cache()
    t0 = time.perf_counter()
    summary = run_extract_clean_pipeline(spark, input_path, out_dir)
    m = {"tail.job_s": time.perf_counter() - t0}
    errs = tail_mismatches(out_dir, summary, n_convs, n_turns)
    if summary["extraction"]["status"] != "up-to-date":
        errs.append("the composed job re-ran extraction")

    job = ExtractionJob(spark, input_path, os.path.join(out_dir, "extracted"),
                        num_partitions=NUM_PARTITIONS)
    extracted = job.read_output().where(F.col("error").isNull())
    owned = []
    try:
        t_stages = time.perf_counter()
        with probe.group("assemble") as am, tr.span("assemble.run"):
            docs = assemble(extracted).select(
                F.col("conv_id").alias("doc_id"),
                F.col("document_text").alias("text"),
                F.lit("transcripts").alias("source"),
            ).persist()
            owned.append(docs)
            docs.count()
        with tr.span("dedup.pairs"):
            pairs = dedup.ngram_jaccard_pairs_for(docs).persist()
            owned.append(pairs)
            n_pairs = pairs.count()
        with tr.span("dedup.clusters"):
            clusters = dedup.duplicate_clusters(spark, None, pairs=pairs)
            owned.append(clusters)
        keep = dedup.dedup_keep_list_for(docs, clusters)
        with tr.span("corpus.filter"):
            decisions = corpus_filter_for(docs, keep).persist()
            owned.append(decisions)
            force(decisions)
        with tr.span("textstats.token_counts"):
            force(token_counts_for(docs, ["doc_id"]))
        with tr.span("corpus.pack"):
            clean_dir = os.path.join(out_dir, "traced_clean")
            docs.join(decisions.where(F.col("keep")).select("doc_id"),
                      "doc_id").write.mode("overwrite").parquet(clean_dir)
            force(token_pack_for(spark.read.parquet(clean_dir),
                                 budget=TAIL_BUDGET))
        m["tail.stages_s"] = time.perf_counter() - t_stages
        # every pair sharing at least one shingle: the inverted index's
        # candidate set, which grows with the corpus far faster than
        # the pairs that pass the threshold
        with tr.span("dedup.candidates"):
            n_cand = dedup.ngram_jaccard_pairs_for(docs, threshold=1e-9).count()
    finally:
        for df in owned:
            df.unpersist()
    m.update({
        "assemble.s": tr.total("assemble.run"),
        "assemble.shuffle_bytes": am["shuffle_write_bytes"],
        "dedup.pairs_s": tr.total("dedup.pairs"),
        "dedup.candidate_pairs": n_cand,
        "dedup.pairs_per_candidate": n_pairs / n_cand if n_cand else 0.0,
        "dedup.clusters_s": tr.total("dedup.clusters"),
        "corpus.filter_s": tr.total("corpus.filter"),
        "corpus.pack_s": tr.total("corpus.pack"),
        "textstats.token_counts_s": tr.total("textstats.token_counts"),
    })
    return m, errs


def curation_layers(ctx, tr: Tracer, sf_dir: str) -> dict:
    """Each curation operator's layers, timed through their public
    functions with every output column forced."""
    from v2_ocr_spark.operators import corpus, similarity

    spark = ctx.spark
    m = {}
    for key, fn in (("quality.lm_logloss", corpus.lm_logloss),
                    ("quality.dup_spans", corpus.remove_dup_spans),
                    ("quality.boilerplate", corpus.scrub_boilerplate)):
        with tr.span(key):
            force(fn(spark, sf_dir))
        m[f"{key}_s"] = tr.total(key)

    emb = similarity.with_unit_norm(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ).select("vec_id", "unit")
    with tr.span("similarity.kmeans"):
        assigned = similarity.kmeans_assign_for(emb, k=32, n_iter=3)
    try:
        sizes = [r["count"] for r in
                 assigned.groupBy("cell_id").count().collect()]
    finally:
        assigned.unpersist()
    with tr.span("similarity.semantic"):
        pairs = similarity.semantic_near_dup_pairs_for(
            emb, k=32, n_iter=3, threshold=0.4)
        try:
            n_pairs = pairs.count()
        finally:
            pairs.unpersist()
    candidates = sum(n * (n - 1) // 2 for n in sizes)
    m.update({
        "similarity.kmeans_s": tr.total("similarity.kmeans"),
        # the within-cluster pair scan: the whole call minus its k-means
        "similarity.pairs_s": max(0.0, tr.total("similarity.semantic")
                                  - tr.total("similarity.kmeans")),
        "similarity.max_cluster": max(sizes),
        "similarity.pairs_per_candidate": n_pairs / candidates,
    })

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    with tr.span("dedup.minhash"):
        sig = dedup.minhash_signatures(docs).persist()
        cand = dedup.lsh_candidate_pairs(sig).persist()
        try:
            n_cand = cand.count()
            verified = dedup.verify_jaccard(cand, docs).where(
                F.col("jaccard") >= 0.5).count()
        finally:
            cand.unpersist()
            sig.unpersist()
    m.update({
        "dedup.minhash_s": tr.total("dedup.minhash"),
        "dedup.lsh_candidates": n_cand,
        "dedup.minhash_verified_per_candidate": verified / n_cand,
    })
    return m


WORKLOADS = {w.name: w for w in (BulkExtract, IncrementalResume)}
