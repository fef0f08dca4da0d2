"""Workloads: the steps each pass runs and how each step is checked.

A *query* step returns a DataFrame; the harness times its construction
(build) and its execution into the sink (the driver, as an Arrow table),
then compares the result's digest with the expected one: the DuckDB
oracle the engine registers for the query, evaluated on the same
generated inputs. A *call* step writes its own output (parquet tables, a
stream sink, a versioned-table commit); it is checked after the timed
passes by reading that output back.

Checks besides the oracles:
- planted near-duplicate documents are recovered: the end-to-end dedup
  keeps exactly the roots of the planted clusters (its DuckDB oracle also
  runs in traced runs);
- the ingest fan-out has exactly sum(|label group|^2) rows, each with a
  PNG-encoded augmentation;
- batch and streaming inference both give the expected prediction for
  every image, so stream output equals batch output;
- every pass appended one version to the versioned table.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dais2021imageprocessingondeltalake_spark import queries_all
from dais2021imageprocessingondeltalake_spark.plans import inference, ingest
from dais2021imageprocessingondeltalake_spark.sources import versioned
from gen import predict_image


@dataclass
class Ctx:
    spark: SparkSession
    data_dir: str
    work_dir: Path
    manifest: dict
    passes: list[str] = field(default_factory=list)

    def out(self, pass_label: str, name: str) -> str:
        return str(self.work_dir / "out" / pass_label / name)


@dataclass
class Step:
    name: str
    run: Callable[[Ctx, str], DataFrame | None]
    kind: str = "query"  # "query" (harness sinks the DataFrame) or "call"
    oracle: str | None = None
    # query steps: expected result built from the planted ground truth;
    # when set, the DuckDB oracle runs in traced runs only
    truth: Callable[[Ctx], pa.Table] | None = None
    # call steps: check one pass's written output after the timed passes
    verify: Callable[[Ctx, str], list[str]] | None = None


def _query(name: str, truth=None) -> Step:
    spec = queries_all.REGISTRY[name]
    return Step(name, lambda ctx, _p: spec.fn(ctx.spark, ctx.data_dir), oracle=spec.oracle, truth=truth)


# --------------------------------------------------------------------------
# curate_text
# --------------------------------------------------------------------------
def _dedup_survivors(ctx: Ctx) -> pa.Table:
    """Every document except the non-root members of planted clusters.
    Random texts over the vocabulary never reach Jaccard 0.5, so this is
    the exact answer; its DuckDB oracle (a recursive CTE, about 6 s per
    run) agrees and runs in traced runs."""
    dropped = {d for c in ctx.manifest["doc_clusters"] for d in c[1:]}
    n = ctx.manifest["input_rows"]["documents"]
    return pa.table({"doc_id": pa.array([i for i in range(n) if i not in dropped], pa.int64())})


def curate_text() -> list[Step]:
    return [
        _query("q_dedup_end2end", truth=_dedup_survivors),
        _query("q_embedding_topk"),
    ]


# --------------------------------------------------------------------------
# sql_analytics
# --------------------------------------------------------------------------
def sql_analytics() -> list[Step]:
    return [
        _query(n)
        for n in (
            "q_flagship_revenue",
            "q_asof_join",
            "q_heavy_hitters",
            "q_logreg_grid",
        )
    ]


# --------------------------------------------------------------------------
# ingest_infer
# --------------------------------------------------------------------------
def predict_batch(batch: pd.DataFrame) -> list[list[str]]:
    """Model stand-in applied by the inference UDF on Python workers."""
    return [predict_image(bytes(c)) for c in batch["content"]]


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _transform():
    return inference.score_transform(predict_batch, ["content"])


def _step_ingest(ctx: Ctx, p: str) -> None:
    ingest.ingest_pipeline(ctx.spark, ctx.manifest["image_dir"], out_path=ctx.out(p, "ingest"))


def _verify_ingest(ctx: Ctx, p: str) -> list[str]:
    rows = (
        ctx.spark.read.parquet(ctx.out(p, "ingest"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.substring("grayscale_image", 1, 8) == F.lit(PNG_SIGNATURE)).cast("long")).alias(
                "png"
            ),
        )
        .collect()
    )
    got = {r["label"]: (r["n"], r["png"]) for r in rows}
    want = {k: (v * v, v * v) for k, v in ctx.manifest["label_counts"].items()}
    return [] if got == want else [f"ingest fan-out/PNG per label {got} != {want}"]


def _step_batch(ctx: Ctx, p: str) -> None:
    table = ctx.spark.read.parquet(ctx.manifest["stream_src"])
    inference.batch_inference(table, _transform(), out_path=ctx.out(p, "batch"))


def _step_stream(ctx: Ctx, p: str) -> None:
    src = ctx.manifest["stream_src"]
    schema = ctx.spark.read.parquet(src).schema
    inference.streaming_inference(
        ctx.spark,
        src,
        schema,
        _transform(),
        ctx.out(p, "stream"),
        ctx.out(p, "stream_ckpt"),
        max_files_per_trigger=1,
    )


def _predictions(ctx: Ctx, path: str) -> dict:
    t = ctx.spark.read.parquet(path).select("path", "my_predictions").toArrow()
    return dict(zip(t.column("path").to_pylist(), t.column("my_predictions").to_pylist()))


def _verify_predictions(name: str):
    def verify(ctx: Ctx, p: str) -> list[str]:
        got = _predictions(ctx, ctx.out(p, name))
        want = ctx.manifest["predictions"]
        if got == want:
            return []
        bad = [k for k in want if got.get(k) != want[k]]
        return [f"{name} inference: {len(bad)} wrong/missing of {len(want)}, rows={len(got)}"]

    return verify


def _step_versioned(ctx: Ctx, p: str) -> None:
    scored = ctx.spark.read.parquet(ctx.out(p, "batch"))
    versioned.versioned_write(scored, str(ctx.work_dir / "out" / "versioned"), mode="append")


def _verify_versioned(ctx: Ctx, p: str) -> list[str]:
    table = str(ctx.work_dir / "out" / "versioned")
    k = ctx.passes.index(p)
    n = versioned.versioned_read(ctx.spark, table, version=k).count()
    want = (k + 1) * ctx.manifest["input_rows"]["images"]
    return [] if n == want else [f"versioned version {k} has {n} rows, want {want}"]


def ingest_infer() -> list[Step]:
    return [
        Step("ingest", _step_ingest, kind="call", verify=_verify_ingest),
        Step("batch_infer", _step_batch, kind="call", verify=_verify_predictions("batch")),
        Step("stream_infer", _step_stream, kind="call", verify=_verify_predictions("stream")),
        Step("versioned_append", _step_versioned, kind="call", verify=_verify_versioned),
    ]


WORKLOADS: dict[str, Callable[[], list[Step]]] = {
    "curate_text": curate_text,
    "ingest_infer": ingest_infer,
    "sql_analytics": sql_analytics,
}


def output_bytes(ctx: Ctx, pass_label: str) -> tuple[int, int]:
    """(bytes, files) of data files the pass wrote: its own output
    directories plus its version of the versioned table."""
    roots = [ctx.work_dir / "out" / pass_label]
    k = ctx.passes.index(pass_label)
    roots.append(ctx.work_dir / "out" / "versioned" / f"v{k}")
    nbytes = nfiles = 0
    for root in roots:
        for dirpath, dirnames, files in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "stream_ckpt"))]
            for f in files:
                if f.startswith((".", "_")):
                    continue
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
    return nbytes, nfiles

