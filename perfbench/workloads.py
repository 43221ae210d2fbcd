"""The benchmark's workloads, its layer probes, and the per-layer
measurements of a traced run.

A workload has an untimed ``prepare`` (seeded corpus on disk plus its
reference), a timed call that goes through the library's public functions
and checks what comes back, and a check pass that compares every output
row with the reference. The check pass runs first, so it is also the
workload's warm-up.

The checkpointed runner (``call_resume``) and the operator suite
(``suite_probe``) are layer probes: every traced run calls them on small
seeded inputs.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Iterator

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import corpora

from pdf_parser_spark import runner
from pdf_parser_spark.dataops import DATAOPS_ORACLES, DATAOPS_QUERIES, clear_memo_caches
from pdf_parser_spark.kernels import extract as kextract
from pdf_parser_spark.payload import PAYLOAD_TYPES, classify_payload, make_payload
from pdf_parser_spark.pipeline import (
    DEFAULT_SALT_BUCKETS,
    EXTRACTED_SLIM_SCHEMA,
    extract_turns,
    run_metrics,
    synth_transcripts_distributed,
)

# Input sizes per workload and probe; "toy" is for the benchmark's own tests.
SIZES = {
    "full": {
        "extract_mixed": {"turns": 6_000},
        "extract_blobs": {"turns": 40_000, "blob_chars": 2048},
        "probe": {"runner_turns": 800, "docs": 200, "vecs": 200},
    },
    "toy": {
        "extract_mixed": {"turns": 400},
        "extract_blobs": {"turns": 3000, "blob_chars": 2048},
        "probe": {"runner_turns": 300, "docs": 150, "vecs": 150},
    },
}

N_BUCKETS = 4
FAIL_BUCKET = 2  # injected mid-run: buckets 0-1 commit, 2 fails, 2-3 are redone on resume
ANN_MEMBERS = ["ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_int8_topk",
               "ann_ivf_int8_topk", "ann_accuracy"]
NEARDUP_MEMBERS = ["minhash_near_dup", "dup_clusters", "winnow_near_dup", "simhash_dedup",
                   "neardup_first_writer"]
SUITE_MEMBERS = ANN_MEMBERS + NEARDUP_MEMBERS + ["corpus_filter"]
KERNEL_SAMPLE = 150  # rows per payload type in the single-core kernel timing
KERNEL_SUBCALLS = ["parse_pdf_payload", "extract_digital_blocks", "extract_html_blocks",
                   "postprocess_blocks"]
PIPELINE_PARTS = ["scan", "window", "exchange", "arrow", "kernel", "metrics_fold"]
PIPELINE_REPEATS = 2


class Outcome:
    """Tally of one workload's checked operations."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.mismatched = 0
        self.errors: list[str] = []

    def fail(self, what: str, count: int = 1) -> None:
        self.failed += count
        self.errors.append(what)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def write_mixed(ctx, name: str, turns: int) -> str:
    """Default-mix transcripts from the library's distributed generator,
    cut to whole conversations totalling ``turns`` (to within 2), so that
    every seed gives the program the same amount of work."""
    gen = os.path.join(ctx.data_dir, name + "_gen")
    # about 20.5 turns per conversation on average; 50% slack
    synth_transcripts_distributed(ctx.spark, n_convs=turns * 3 // 40 + 1, seed=ctx.seed).write.mode(
        "overwrite").parquet(gen)
    # Spark writes timestamps as INT96, which reads back as nanoseconds
    table = pq.read_table(gen).select(corpora.TRANSCRIPT_ARROW_SCHEMA.names).cast(
        corpora.TRANSCRIPT_ARROW_SCHEMA)
    shutil.rmtree(gen)
    path = os.path.join(ctx.data_dir, name + ".parquet")
    corpora.write_parquet(corpora.cut_to_turns(table, turns), path)
    return path


def corpus_info(path: str) -> dict:
    return {"rows": pq.ParquetFile(path).metadata.num_rows, "parquet_bytes": os.path.getsize(path)}


def prepare_suite(ctx, docs: int, vecs: int) -> dict:
    d = os.path.join(ctx.data_dir, "probe_suite")
    corpora.write_parquet(corpora.synth_documents(docs, ctx.seed), os.path.join(d, "documents.parquet"))
    corpora.write_parquet(corpora.synth_embeddings(vecs, ctx.seed), os.path.join(d, "embeddings.parquet"))
    return {"dir": d}


def prepare(ctx, w: str) -> dict:
    size = ctx.sizes[w]
    if w == "extract_blobs":
        path = os.path.join(ctx.data_dir, w + ".parquet")
        table = corpora.synth_blobs(size["turns"], ctx.seed, size["blob_chars"])
        corpora.write_parquet(table, path)
        ref = corpora.Reference(table, workers=1)  # opaque-only: cheap in one process
    else:
        path = write_mixed(ctx, w, size["turns"])
        table = pq.read_table(path)
        ref = corpora.Reference(table, workers=ctx.cores)
    return {"path": path, "ref": ref, "table": table, "input": corpus_info(path)}


# ---------------------------------------------------------------------------
# extraction workloads
# ---------------------------------------------------------------------------


def check_turns(df, ref: corpora.Reference, out: Outcome) -> int:
    """Compare every output turn of ``df`` with the reference. A non-opaque
    turn that came back as a fallback is a crash the kernel swallowed: a
    failed operation."""
    rows = df.select("conv_id", "turn_idx", "turn_seq", F.md5("extracted_text"), "spans",
                     "payload_type", "is_fallback").collect()
    out.attempted += len(rows)
    out.rows += len(rows)
    out.mismatched += ref.mismatched_turns([tuple(r)[:5] for r in rows])
    crashed = sum(1 for r in rows if r["is_fallback"] and r["payload_type"] != "opaque")
    if crashed:
        out.fail(f"{crashed} non-opaque turns came back as fallbacks", crashed)
    return len(rows)


def check_extract(ctx, st: dict, out: Outcome) -> None:
    check_turns(extract_turns(ctx.spark.read.parquet(st["path"]), include_blocks=False), st["ref"], out)


def call_extract(ctx, st: dict, out: Outcome) -> int:
    row = run_metrics(extract_turns(ctx.spark.read.parquet(st["path"]), include_blocks=False)
                      ).collect()[0].asDict()
    out.attempted += 1
    out.rows += 1
    if st["ref"].metrics_mismatch(row):
        out.mismatched += 1
    return int(row["turns_parsed"])


# ---------------------------------------------------------------------------
# checkpointed extraction
# ---------------------------------------------------------------------------


def call_resume(ctx, st: dict, out: Outcome, rec: dict) -> None:
    """Runner probe: fail at bucket ``FAIL_BUCKET``, resume to completion,
    read back and compare every turn. Bucket times come from the
    ``on_bucket_done`` callbacks; the first of each call includes its
    staging and lineage reads."""
    out_dir = os.path.join(ctx.data_dir, "resume_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    src = ctx.spark.read.parquet(st["path"])
    marks: list[float] = []
    t0 = time.perf_counter()
    try:
        runner.run_extraction(ctx.spark, src, out_dir, n_buckets=N_BUCKETS, fail_bucket=FAIL_BUCKET,
                              on_bucket_done=lambda b: marks.append(time.perf_counter()))
        out.fail("injected bucket failure did not raise")
    except RuntimeError as exc:
        if f"bucket {FAIL_BUCKET} failed" not in str(exc):
            out.fail(f"unexpected failure: {exc}")
    t1 = time.perf_counter()
    first_marks = list(marks)
    summary = runner.run_extraction(ctx.spark, src, out_dir, n_buckets=N_BUCKETS,
                                    on_bucket_done=lambda b: marks.append(time.perf_counter()))
    t2 = time.perf_counter()
    check_turns(runner.read_extracted(ctx.spark, out_dir), st["ref"], out)
    out.attempted += N_BUCKETS
    expect_redone = N_BUCKETS - FAIL_BUCKET
    if summary["buckets_processed"] != expect_redone:
        out.fail(f"resume redid {summary['buckets_processed']} buckets, expected {expect_redone}")
    bucket_s = np.diff([t0] + first_marks).tolist() + np.diff([t1] + marks[len(first_marks):]).tolist()
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(out_dir) for f in fs
             if f.endswith(".parquet") and os.path.basename(dp).startswith("bucket=")]
    rec.update({
        "runner.failed_run_s": t1 - t0,
        "runner.resume_s": t2 - t1,
        "runner.bucket_s_p50": float(np.median(bucket_s)),
        "runner.bucket_s_max": float(np.max(bucket_s)),
        "runner.output_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        "runner.output_files": float(len(files)),
        "runner.buckets_redone": float(summary["buckets_processed"]),
    })


# ---------------------------------------------------------------------------
# operator suite
# ---------------------------------------------------------------------------


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def _mismatched_rows(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Rows of ``a`` (Spark) that differ from the oracle ``b`` after the
    order-insensitive normalisation of the repo's oracle tests."""
    a, b = _normalize(a), _normalize(b)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return max(len(a), len(b), 1)
    bad = np.zeros(len(a), dtype=bool)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind in "iuf" and b[c].dtype.kind in "iuf":
            bad |= ~np.isclose(x.astype(float), y.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            bad |= x.astype(str) != y.astype(str)
    return int(bad.sum())


def suite_probe(ctx, st: dict, out: Outcome, rec: dict) -> None:
    """One pass over the suite members, memo caches cleared first. Each
    member's result is collected, timed, and compared with its DuckDB
    oracle over the same parquet files."""
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{st['dir']}/{t}.parquet')")
        clear_memo_caches()
        for name in SUITE_MEMBERS:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("dataops." + name):
                    got = DATAOPS_QUERIES[name](ctx.spark, st["dir"]).toPandas()
            except Exception as exc:  # a query that raises is a failed operation
                out.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            finally:
                rec[f"suite.{name}_s"] = time.perf_counter() - t0
            want = con.execute(DATAOPS_ORACLES[name]).df()
            out.rows += max(len(got), 1)
            out.mismatched += _mismatched_rows(got, want)
    finally:
        con.close()
    rec["suite.ann_s"] = sum(rec[f"suite.{n}_s"] for n in ANN_MEMBERS)
    rec["suite.neardup_s"] = sum(rec[f"suite.{n}_s"] for n in NEARDUP_MEMBERS)


# ---------------------------------------------------------------------------
# per-layer measurements (traced runs only)
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stands in for the kernel: same slim output schema, empty text and
    spans, no per-row work. What it costs is moving the input rows to
    Python and back through Arrow plus the per-task worker overhead."""
    for pdf in batches:
        n = len(pdf)
        yield pd.DataFrame({
            "conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "role": pdf["role"],
            "source": [""] * n, "payload_type": [""] * n, "is_fallback": [False] * n,
            "extracted_text": [""] * n, "spans": [[]] * n,
            "n_blocks": 0, "n_tables": 0, "n_spans": 0, "n_chars": 0,
            "turn_seq": pdf["turn_seq"],
        })[[f.name for f in EXTRACTED_SLIM_SCHEMA.fields]]


def pipeline_layers(ctx, path: str, full_wall_s: float) -> dict[str, float]:
    """Time cumulative plan prefixes of ``extract_turns`` through the noop
    sink, interleaved ``PIPELINE_REPEATS`` times, and take each part as the
    difference of consecutive prefix medians:

    scan -> + conv_id window -> + salted exchange -> + identity mapInPandas
    (Arrow transfer) -> + kernel (the real pipeline) -> + metrics fold
    (``run_metrics(...).collect()``, the workload's own call).

    ``split_gap`` compares the prefix-built full time with the workload's
    untraced ``wall_s`` from the same process; a gap above ``SPLIT_TOLERANCE``
    means the parts do not add up to the measured whole."""
    spark = ctx.spark
    parts = 4 * spark.sparkContext.defaultParallelism  # extract_turns' default

    def window(src):
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        return src.withColumn("turn_seq", F.row_number().over(w).cast("int"))

    def exchange(src):
        return window(src).repartition(
            parts, F.col("conv_id"), F.pmod(F.hash(F.col("turn_idx")), F.lit(DEFAULT_SALT_BUCKETS)))

    prefixes = {
        "scan": lambda src: _noop(src),
        "window": lambda src: _noop(window(src)),
        "exchange": lambda src: _noop(exchange(src)),
        "arrow": lambda src: _noop(exchange(src).mapInPandas(_identity_batches, EXTRACTED_SLIM_SCHEMA)),
        "kernel": lambda src: _noop(extract_turns(src, include_blocks=False)),
        "metrics_fold": lambda src: run_metrics(extract_turns(src, include_blocks=False)).collect(),
    }
    times: dict[str, list[float]] = {k: [] for k in prefixes}
    for _ in range(PIPELINE_REPEATS):
        for name, fn in prefixes.items():
            t0 = time.perf_counter()
            with ctx.tracer.span("pipeline.prefix." + name):
                fn(spark.read.parquet(path))
            times[name].append(time.perf_counter() - t0)
    med = {k: float(np.median(v)) for k, v in times.items()}
    out, prev = {}, 0.0
    for name in PIPELINE_PARTS:
        out[f"pipeline.{name}_s"] = med[name] - prev
        prev = med[name]
    out["pipeline.split_gap"] = abs(med["metrics_fold"] - full_wall_s) / full_wall_s
    out["pipeline.kernel_share"] = out["pipeline.kernel_s"] / med["metrics_fold"]
    return out


SPLIT_TOLERANCE = 0.15


def _sample_rows(table, seed: int) -> dict[str, list[tuple[str, int, str]]]:
    """Up to ``KERNEL_SAMPLE`` rows per payload type from the workload's own
    corpus; types it lacks are filled from the corpus generator's payloads."""
    rows: dict[str, list[tuple[str, int, str]]] = {t: [] for t in PAYLOAD_TYPES}
    cols = table.select(["text", "turn_idx", "tool"]).slice(0, 20_000).to_pydict()
    for text, turn, tool in zip(cols["text"], cols["turn_idx"], cols["tool"]):
        bucket = rows[classify_payload(text, tool)]
        if len(bucket) < KERNEL_SAMPLE:
            bucket.append((text, int(turn), tool))
    for t in PAYLOAD_TYPES:
        i = 0
        while len(rows[t]) < KERNEL_SAMPLE:
            rows[t].append((make_payload(t, seed * 1_000_003 + i), i % 30, ""))
            i += 1
    return rows


def kernel_layers(ctx, table, mix: dict[str, int]) -> dict[str, float]:
    """Single-core ``extract_turn`` time per payload type, and the time of
    the kernel's main sub-calls, timed by wrapping them where
    ``kernels.extract`` calls them. Best of two passes."""
    sample = _sample_rows(table, ctx.seed)
    spent = {n: [0.0, 0] for n in KERNEL_SUBCALLS}
    originals = {n: getattr(kextract, n) for n in KERNEL_SUBCALLS}

    def timed(name, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spent[name][0] += time.perf_counter() - t0
                spent[name][1] += 1
        return wrapper

    per_type: dict[str, float] = {}
    try:
        for n, fn in originals.items():
            setattr(kextract, n, timed(n, fn))
        for _ in range(2):
            for v in spent.values():
                v[0], v[1] = 0.0, 0
            for t, rows in sample.items():
                t0 = time.perf_counter()
                with ctx.tracer.span("kernels." + t):
                    for text, turn, tool in rows:
                        kextract.extract_turn(text, turn, tool)
                us = (time.perf_counter() - t0) / len(rows) * 1e6
                per_type[t] = min(per_type.get(t, us), us)
    finally:
        for n, fn in originals.items():
            setattr(kextract, n, fn)
    out = {f"kernel.extract_turn_us.{t}": per_type[t] for t in PAYLOAD_TYPES}
    for n, (sec, calls) in spent.items():
        out[f"kernel.{n}_us"] = sec / max(calls, 1) * 1e6
    total = sum(mix.values()) or 1
    weighted_us = sum(per_type[t] * mix.get(t, 0) / total for t in PAYLOAD_TYPES)
    out["kernel.ceiling_turns_per_s"] = ctx.cores / (weighted_us / 1e6)
    return out


