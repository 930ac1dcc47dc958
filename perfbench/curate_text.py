"""``curate_text``: ``plans.datapipe.curate_corpus`` over a synthetic corpus.

The corpus (``generate_text_corpus``) has 10% exact duplicates, 5% planted
one-token near-duplicates and 20% templated boilerplate documents, so the
exact pre-pass, LSH banding, the bucket cap (the boilerplate buckets exceed
it), Jaccard verify and connected components all do real work. No raster
layer runs.

Output check: every planted near-duplicate and every exact duplicate maps to
its original's ``canonical_id`` and is not kept, and the kept count is the
same in every execution. The output is collected whole, so no column is
pruned.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rastr_spark.functions.dedup import (
    connected_components,
    dedup_exact,
    fuzzy_dedup_assign,
    minhash_candidate_pairs,
    verified_near_dup_edges,
)
from rastr_spark.functions.text import doc_annotations
from rastr_spark.plans.datapipe import curate_corpus
from rastr_spark.sources.documents import generate_text_corpus

from harness import CheckFailed, Tracer, noop_rows, noop_write

N_BASE = 5_000  # + N_BASE / 20 planted near-duplicates
# 16 hashes in 8 bands of 2: a planted pair (3-gram Jaccard 38/39) shares no
# band with probability ~5e-11, so the near-duplicate check cannot flake.
# The bucket cap sits below the boilerplate share (N_BASE / 5 docs), so the
# template's bucket is dropped, as at web scale.
PARAMS = dict(n=3, num_hashes=16, bands=8, max_bucket_size=N_BASE // 50)
JACCARD = 0.8
BOILERPLATE = (
    "the universal boilerplate header text that appears on every templated "
    "page of this corpus with the same navigation links and the same legal "
    "footer disclaimers repeated verbatim across all generated pages variant "
)


def build_corpus(spark: SparkSession, seed: int):
    base = generate_text_corpus(spark, N_BASE, seed=seed)  # every 10th doc an exact dup
    near = base.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + N_BASE).alias("doc_id"), F.concat("text", F.lit(" zzq")).alias("text")
    )
    return base.unionByName(near).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit(BOILERPLATE), F.col("doc_id").cast("string"))
        ).otherwise(F.col("text")),
    )


class CurateText:
    name = "curate_text"

    def __init__(self, spark: SparkSession, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.docs = None
        self.kept: int | None = None

    @property
    def input_rows(self) -> int:
        return N_BASE + N_BASE // 20

    def setup(self, rep: int) -> None:
        """Generate the corpus and persist it to parquet."""
        path = self.work / f"corpus-{rep}"
        build_corpus(self.spark, self.seed).write.mode("overwrite").parquet(str(path))
        self.docs = self.spark.read.parquet(str(path))
        if rep > 0:
            shutil.rmtree(self.work / f"corpus-{rep - 1}", ignore_errors=True)

    def build_oracle(self) -> None:
        """The planted duplicates are known by construction; the reference
        kept count is the first execution's (see execute)."""

    def curate(self):
        return curate_corpus(
            self.docs, min_quality=0.5, langs=("en", "unk"), jaccard_threshold=JACCARD,
            input_rows_bound=self.input_rows, **PARAMS,
        )

    def execute(self) -> None:
        pdf = self.curate().toPandas()
        canon = dict(zip(pdf["doc_id"].to_numpy(), pdf["canonical_id"].to_numpy()))
        ids = pdf["doc_id"].to_numpy()
        near = ids[ids >= N_BASE]
        exact = ids[(ids < N_BASE) & (ids % 10 == 9)]
        originals = np.concatenate([near - N_BASE, exact - 1])
        planted = np.concatenate([near, exact])
        if len(near) != N_BASE // 20 or len(pdf) != self.input_rows:
            raise CheckFailed(f"{len(pdf)} output rows, {len(near)} near-duplicates")
        bad = [int(d) for d, o in zip(planted, originals) if canon.get(d) != canon.get(o)]
        if bad:
            raise CheckFailed(f"{len(bad)} planted duplicates not mapped to their original, e.g. {bad[:5]}")
        kept = pdf.set_index("doc_id")["keep"]
        if kept.loc[planted].any():
            raise CheckFailed("a planted duplicate is kept")
        n_kept = int(kept.sum())
        if self.kept is None:
            self.kept = n_kept
        elif n_kept != self.kept:
            raise CheckFailed(f"kept {n_kept} docs, the first execution kept {self.kept}")

    def summary(self) -> dict:
        return {"kept_rows": self.kept}

    def trace_layers(self, tr: Tracer) -> dict[str, float]:
        """One call per layer, each forced on its own by a noop write. The
        dedup layers run on the exact-deduplicated corpus, as inside
        ``fuzzy_dedup_assign``."""
        with tr.span("functions.text.doc_annotations") as s_ann:
            noop_write(self.docs.select("doc_id", doc_annotations(F.col("text")).alias("ann")))
        reps = dedup_exact(self.docs).localCheckpoint(eager=True)
        with tr.span("functions.dedup.minhash_candidate_pairs") as s_cand:
            n_cand = noop_rows(minhash_candidate_pairs(reps, **PARAMS))
        with tr.span("functions.dedup.verified_near_dup_edges") as s_edges:
            edges = verified_near_dup_edges(reps, threshold=JACCARD, **PARAMS)
            n_edges = noop_rows(edges)
        edges = edges.localCheckpoint(eager=True)
        rounds: list[dict] = []
        with tr.span("functions.dedup.connected_components") as s_cc:
            noop_write(connected_components(edges, metrics=rounds))
        with tr.span("functions.dedup.fuzzy_dedup_assign") as s_fuzzy:
            noop_write(fuzzy_dedup_assign(self.docs, threshold=JACCARD, **PARAMS))
        with tr.span("plans.datapipe.curate_corpus") as s_cur:
            out = self.curate()
            obs_kept = noop_rows(out.filter("keep"))
        for s, k, v in ((s_cand, "rows", n_cand), (s_edges, "rows", n_edges),
                        (s_cc, "rounds", len(rounds)), (s_cur, "kept_rows", obs_kept)):
            s.counts[k] = v
        return {
            "functions.text.doc_annotations.s": s_ann.duration,
            "functions.dedup.minhash_candidate_pairs.s": s_cand.duration,
            "functions.dedup.minhash_candidate_pairs.rows": n_cand,
            "functions.dedup.verified_near_dup_edges.s": s_edges.duration,
            "functions.dedup.verified_near_dup_edges.rows": n_edges,
            "functions.dedup.verify_ratio": n_edges / max(n_cand, 1),
            "functions.dedup.connected_components.s": s_cc.duration,
            "functions.dedup.connected_components.rounds": len(rounds),
            "functions.dedup.fuzzy_dedup_assign.s": s_fuzzy.duration,
            "plans.datapipe.curate_corpus.s": s_cur.duration,
            "plans.datapipe.curate_corpus.kept_rows": obs_kept,
        }
