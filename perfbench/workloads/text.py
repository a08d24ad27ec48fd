"""text_curation: the LLM-data curation chain of the engine.

One operation runs exact dedup, a Gopher quality screen, MinHash-LSH
near-dedup and n-gram decontamination against a small eval set, each
stage reading the previous stage's output and writing its own. The
work is per-row CPU in array expressions with small shuffles. The kept
ids are checked against the generator's planted duplicate,
near-duplicate, boilerplate and contamination sets.
"""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hse_etl_ochirov_aldar_spark.functions.text import with_gopher_signals
from hse_etl_ochirov_aldar_spark.operators.decontaminate import ngram_decontaminate
from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from hse_etl_ochirov_aldar_spark.sources.sinks import write_overwrite

from ..gen import TextSize, dir_bytes, gen_text

NAME = "text_curation"
SPANS = (
    "operators.text_dedup.exact_dedup",
    "functions.text.gopher_signals",
    "operators.text_dedup.minhash_dedup",
    "operators.decontaminate.ngram_decontaminate",
)

DOCS = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
EVAL = StructType([StructField("eval_id", LongType()), StructField("text", StringType())])


def _gopher_pass(sig: str):
    """The Gopher paper's document screen over a gopher_signals struct."""
    g = F.col(sig)
    return (
        g["mwl"].between(3, 10)
        & (g["symr"] <= 0.1)
        & (g["alphar"] >= 0.8)
        & (g["bulletr"] <= 0.9)
        & (g["ellipsisr"] <= 0.3)
        & (g["dupliner"] <= 0.3)
    )


class Workload:
    check_every_op = True
    exhausted = False
    warmup_ops = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.inputs = gen_text(f"{work}/landing", seed, TextSize())
        self.out = f"{work}/lake"
        self.input_bytes = self.inputs.bytes
        self.stage_root = os.environ["SPARK_GRAFT_STAGE_DIR"]

    def run_op(self, tracer) -> int:
        spark, out = self.spark, self.out
        with tracer.span("operators.text_dedup.exact_dedup"):
            docs = spark.read.schema(DOCS).json(self.inputs.docs)
            write_overwrite(exact_dedup(docs), f"{out}/exact")
        with tracer.span("functions.text.gopher_signals"):
            scored = with_gopher_signals(spark.read.parquet(f"{out}/exact"), out_col="gsig")
            write_overwrite(scored.where(_gopher_pass("gsig")).select("doc_id", "text"),
                            f"{out}/quality")
        with tracer.span("operators.text_dedup.minhash_dedup"):
            write_overwrite(minhash_dedup(spark.read.parquet(f"{out}/quality")),
                            f"{out}/near_dedup")
        with tracer.span("operators.decontaminate.ngram_decontaminate"):
            evals = spark.read.schema(EVAL).json(self.inputs.eval_set)
            write_overwrite(ngram_decontaminate(spark.read.parquet(f"{out}/near_dedup"),
                                                evals, n=8), f"{out}/final")
        return self.inputs.rows

    def trace_extras(self, tracer) -> dict:
        """Verified pairs per LSH candidate, recounted on the screened
        corpus with the two halves minhash_dedup composes, and the size
        of the engine's stage root the curation spans left behind."""
        screened = self.spark.read.parquet(f"{self.out}/quality")
        cands = minhash_lsh_candidates(screened).persist()
        try:
            n_cands = cands.count()
            n_verified = ngram_jaccard_pairs(screened, cands).count()
        finally:
            cands.unpersist()
        return {
            "operators.text_dedup.minhash_dedup.candidate_precision":
                n_verified / n_cands if n_cands else 0.0,
            "stage.staged_mb": dir_bytes(self.stage_root) / 2**20,
        }

    def after_op(self) -> None:
        # staged intermediates are dead once the stage outputs are written
        for name in os.listdir(self.stage_root):
            shutil.rmtree(os.path.join(self.stage_root, name), ignore_errors=True)

    def stored_bytes(self) -> int:
        return dir_bytes(self.out)

    def check(self) -> list[str]:
        con = duckdb.connect()
        try:
            kept = {r[0] for r in con.sql(
                f"SELECT doc_id FROM read_parquet('{self.out}/final/*.parquet')").fetchall()}
        finally:
            con.close()
        want = self.inputs.expected_kept
        if kept == want:
            return []
        wrong = {k: len(v & kept) for k, v in self.inputs.planted.items() if v & kept}
        return [f"kept {len(kept)} docs, expected {len(want)}; planted sets kept: {wrong}; "
                f"clean docs dropped: {len(want - kept)}"]
