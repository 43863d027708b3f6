"""The extraction pipeline — per-turn text cleanup as ONE narrow
mapInPandas pass.

Reference parity:
  * kernel dispatch == the provider factory switch
    (reference: lib/ocr/providers/index.ts:82-99) — a payload-kind
    column selects the kernel per row, so dispatch costs no shuffle
    and no extra pass (SURVEY.md §2.10).
  * error-as-row == P10 (file-processor.ts:474-504): a failing turn
    produces a result row with empty text and the error message —
    turns are never dropped.
  * per-turn metrics == the per-page progress/metrics stamps
    (file-processor.ts:312-327).

Scale notes (100 TB / 10^12 turns):
  * This stage is embarrassingly parallel: no groupBy, no join, no
    shuffle. Its parallelism is its input's: input splits, sized by
    spark.sql.files.maxPartitionBytes. The caller sizes a small input
    to its rows: ExtractionJob repartitions a restage of fewer rows
    than splits x maxRecordsPerBatch into ceil(rows /
    maxRecordsPerBatch) tasks (pipeline/runner.py), since each Python
    task pays a fixed worker set-up whatever its row count.
  * Catalyst prunes the scan to exactly (conv_id, turn_idx, role,
    text, tool) — check ReadSchema in .explain().
  * Long-conversation skew does NOT affect this stage (rows are
    independent); it matters only for grouped assembly, which handles
    it with chunked two-phase merge (operators/assemble.py).
  * Arrow batch size is capped session-wide (session.py) so 64 KB
    turn texts can't blow up Python-worker memory.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from v2_ocr_spark.kernels import KERNELS

# dispatch rule (P11 analog): tool turns declare their kind in the tool
# column ("<name> extract:<kind>"); assistant turns carry provider
# markdown; user turns are plain text.
_KIND_RE = r"extract:([a-z_]+)"

SPANS_DDL = "array<struct<start:int,end:int,kind:string>>"
EXTRACTED_DDL = (
    "conv_id string, turn_idx int, extracted_text string, "
    f"spans {SPANS_DDL}, error string"
)
EXTRACTED_METRICS_DDL = (
    EXTRACTED_DDL
    + ", chars_in long, chars_out long, n_spans int, nodes_seen long, "
    "proc_us long"
)


def with_payload_kind(df: DataFrame) -> DataFrame:
    """Derive the kernel-dispatch column (JVM-side, codegen'd)."""
    return df.withColumn(
        "payload_kind",
        F.when(
            F.col("tool").isNotNull()
            & (F.regexp_extract("tool", _KIND_RE, 1) != F.lit("")),
            F.regexp_extract("tool", _KIND_RE, 1),
        )
        .when(F.col("role") == "assistant", F.lit("markdown"))
        .otherwise(F.lit("plain")),
    )


# span tuples (start, end, kind) convert to Arrow struct rows directly —
# building dicts per row costs ~10% of the whole pass (measured)


def _extract_batch(pdf: pd.DataFrame, with_metrics: bool) -> pd.DataFrame:
    t0 = time.perf_counter_ns()
    n = len(pdf)
    out_text = pd.Series([""] * n, index=pdf.index, dtype=object)
    out_spans = pd.Series([[] for _ in range(n)], index=pdf.index, dtype=object)
    out_err = pd.Series([None] * n, index=pdf.index, dtype=object)
    # nodes inspected per turn (north-rule metrics: dropped = seen-kept);
    # kernels without a dropped-block notion report seen == kept below
    out_nodes = pd.Series([-1] * n, index=pdf.index, dtype="int64")

    for kind, kernel in KERNELS.items():
        mask = pdf["payload_kind"] == kind
        if not mask.any():
            continue
        texts = pdf.loc[mask, "text"]
        try:
            cleaned, spans, *extra = kernel(texts)
            out_text.loc[mask] = cleaned
            out_spans.loc[mask] = spans
            if extra:
                out_nodes.loc[mask] = extra[0]
        except Exception:
            # P10 fallback: isolate the failing rows, keep the rest.
            for idx, val in texts.items():
                try:
                    c, s, *ex = kernel(pd.Series([val]))
                    out_text.at[idx] = c.iloc[0]
                    out_spans.at[idx] = s.iloc[0]
                    if ex:
                        out_nodes.at[idx] = ex[0].iloc[0]
                except Exception as exc:  # noqa: BLE001
                    out_text.at[idx] = ""
                    out_spans.at[idx] = []
                    out_err.at[idx] = f"{type(exc).__name__}: {exc}"

    # unknown kinds -> error rows, never dropped (P10)
    known = pdf["payload_kind"].isin(KERNELS.keys())
    if not known.all():
        out_err.loc[~known] = "unknown payload kind: " + pdf.loc[
            ~known, "payload_kind"
        ].astype(str)

    res = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"],
            "turn_idx": pdf["turn_idx"],
            "extracted_text": out_text,
            "spans": out_spans,
            "error": out_err,
        }
    )
    if with_metrics:
        elapsed = time.perf_counter_ns() - t0
        res["chars_in"] = pdf["text"].fillna("").str.len().astype("int64")
        res["chars_out"] = out_text.str.len().astype("int64")
        res["n_spans"] = out_spans.map(len).astype("int32")
        res["nodes_seen"] = out_nodes.where(
            out_nodes >= 0, res["n_spans"]
        ).astype("int64")
        res["proc_us"] = int(elapsed // 1000) // max(n, 1)
    return res


def extract_turns(df: DataFrame, with_metrics: bool = False) -> DataFrame:
    """transcripts -> extracted(conv_id, turn_idx, extracted_text, spans,
    error[, metrics]) — one narrow Arrow-batched pass, zero shuffles."""
    src = with_payload_kind(df).select(
        "conv_id", "turn_idx", "text", "payload_kind"
    )
    schema = EXTRACTED_METRICS_DDL if with_metrics else EXTRACTED_DDL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _extract_batch(pdf, with_metrics)

    return src.mapInPandas(run, schema=schema)


def extract_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-side pure-pandas reference run of the same kernels —
    used by e2e tests to check the Spark pipeline row-for-row."""
    tool = pdf["tool"].fillna("")
    kind = tool.str.extract(_KIND_RE, expand=False)
    kind = kind.where(
        kind.notna(),
        pd.Series(
            ["markdown" if r == "assistant" else "plain" for r in pdf["role"]],
            index=pdf.index,
        ),
    )
    work = pdf[["conv_id", "turn_idx", "text"]].copy()
    work["payload_kind"] = kind
    return _extract_batch(work, with_metrics=False)
