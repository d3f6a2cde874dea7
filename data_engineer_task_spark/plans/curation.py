"""End-to-end corpus curation pipeline — the training-data analog of
the reference's ETL driver (``task.py:276-303``: extract → transform →
load), re-expressed over the curation operator library: normalize →
quality gate → exact dedup → near-dup dedup → split → write, with a
per-stage manifest for provenance.

Every stage is one of the already-tested operators; this module only
COMPOSES them (no new kernels), so its value is the contract: a user
of the reference who wants "run my corpus through the standard cleanup"
calls one method and gets a partitioned curated table plus an auditable
manifest of what each stage removed.

Scale shape (SCALING.md doctrine): every stage is a scan + bounded
shuffle — normalization and gating are map-only; exact dedup shuffles
32-byte digests; near-dup runs the banded MinHash path (never
all-pairs); the split is map-only md5 bucketing. The post-gate and post-dedup
frames are persisted because the manifest counts, both reject branches,
and the final writes all re-consume them — without the cache the
gate+dedup lineage would re-execute per action.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.dedup import (
    content_hash_dedup,
    near_duplicates,
    segment_dedup_rewrite,
)
from ..operators.graph import connected_components
from ..operators.quality import quality_gate
from ..operators.sampling import hash_split
from ..operators.text import normalize_text
from ..sources.catalog import open_parquet


@dataclass
class CurationConfig:
    """Knobs for the standard cleanup; defaults are the operator
    defaults tuned for the driver's synthetic documents table."""

    id_col: str = "doc_id"
    text_col: str = "text"
    min_tokens: int = 5
    max_tokens: int = 10_000
    max_stopword_ratio: float = 1.0
    max_punct_ratio: float = 1.0
    near_dup_threshold: float = 0.6
    # "first" keeps the min-id member of each near-dup cluster;
    # "best" keeps the LONGEST member (raw text length, min-id
    # tie-break) — the rule real curation prefers, since the longest
    # near-duplicate is usually the un-truncated original.
    near_dup_keep: str = "first"
    # optional exact-substring dedup stage between exact and near-dup:
    # keep the first corpus-wide occurrence of every segment_len-token
    # window and rewrite documents from the survivors.
    segment_dedup: bool = False
    segment_len: int = 10
    # optional SemDeDup stage (embedding-space semantic dedup) after
    # the text near-dup stage — runs only when run() receives an
    # embeddings frame. Within-k-means-cluster cosine pairs >= the
    # threshold form duplicate groups; the survivor is the member
    # LEAST similar to its centroid (diversity-maximizing, Abbas et
    # al. 2023). Docs WITHOUT an embedding row are always kept (no
    # evidence to judge them on).
    semantic_threshold: float = 0.35
    semantic_k: int = 8
    semantic_iters: int = 5
    minhash_hashes: int = 8
    shingle_k: int = 3
    min_avg_token_len: float = 0.0
    max_avg_token_len: float = 1e9
    split_cuts: tuple[tuple[str, int], ...] = (
        ("train", 204),
        ("val", 230),
        ("test", 256),
    )


class CurationPipeline:
    """Composable curation run over a documents DataFrame.

    ``run(docs)`` executes the stages, writes the curated corpus
    partitioned by split under ``{out_dir}/curated``, the rejected rows
    with their rejection stage under ``{out_dir}/rejects`` (curation
    pipelines audit what they drop — quality_gate's design note), and a
    JSON manifest at ``{out_dir}/manifest.json``. Returns the manifest
    dict."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str | None = None,
        config: CurationConfig | None = None,
    ) -> None:
        # out_dir is only needed by run() (which writes); classify()
        # is side-effect-free and works without one.
        self.spark = spark
        self.out_dir = out_dir
        self.cfg = config or CurationConfig()

    def classify(self, docs: DataFrame) -> DataFrame:
        """Side-effect-free funnel classification: label EVERY input
        document with its pipeline outcome — ``rejected:<stage>`` for
        the stage that dropped it, ``split:<name>`` for survivors.
        Returns (id_col, outcome), exactly one row per input row
        (funnel conservation).

        This composes the SAME operators in the SAME order and with
        the SAME survivor rules as ``run()``'s standard path (gate →
        exact dedup → [segment dedup] → near-dup dedup → split) —
        ``tests/test_curation.py::test_classify_matches_run`` pins the
        two surfaces row-for-row — but builds one DataFrame instead of
        writing tables, so the whole end-to-end composition can sit
        behind the driver's hash gate (the ``curation_pipeline_
        survivors`` base entry, VERDICT r5 item 1, and the keep-best +
        segment-dedup variant ``curation_keepbest_survivors``, VERDICT
        r6 item 1). The SemDeDup stage needs an embeddings frame that
        run() alone accepts and stays run()-only."""
        cfg = self.cfg
        if cfg.near_dup_keep not in ("first", "best"):
            raise ValueError(
                f"near_dup_keep={cfg.near_dup_keep!r} — must be 'first' or 'best'"
            )
        norm = docs.select(cfg.id_col, cfg.text_col).withColumn(
            "_norm_text", normalize_text(F.col(cfg.text_col))
        )
        gated = quality_gate(
            norm,
            cfg.id_col,
            "_norm_text",
            min_tokens=cfg.min_tokens,
            max_tokens=cfg.max_tokens,
            min_avg_token_len=cfg.min_avg_token_len,
            max_avg_token_len=cfg.max_avg_token_len,
            max_stopword_ratio=cfg.max_stopword_ratio,
            max_punct_ratio=cfg.max_punct_ratio,
        ).select(cfg.id_col, "passed")
        ok = F.coalesce(F.col("passed"), F.lit(False))
        # persisted: the gate+join subplan feeds both routing branches.
        with_flag = norm.join(gated, cfg.id_col).persist()
        passed = with_flag.where(ok).drop("passed")
        rej_gate = with_flag.where(~ok).select(cfg.id_col)
        survivors = content_hash_dedup(passed, cfg.id_col, "_norm_text").select(
            cfg.id_col
        )
        # persisted: near-dup build + the kept/rejected branches all
        # re-consume the exact-survivor frame.
        exact = passed.join(survivors, cfg.id_col, "left_semi").persist()
        rej_exact = passed.join(survivors, cfg.id_col, "left_anti").select(
            cfg.id_col
        )
        # Optional exact-substring (segment) dedup, mirroring run()'s
        # stage 3b: rewrite each document from the first corpus-wide
        # occurrence of every segment_len-token window; emptied docs
        # reject with their own label, survivors carry the REWRITTEN
        # text forward as the near-dup key.
        rej_segment = None
        if cfg.segment_dedup:
            rw = segment_dedup_rewrite(
                exact.select(cfg.id_col, "_norm_text"),
                cfg.id_col,
                "_norm_text",
                seg=cfg.segment_len,
            ).select(cfg.id_col, "n_kept", "rewritten_text")
            joined = exact.join(rw, cfg.id_col)
            rej_segment = joined.where(F.col("n_kept") == 0).select(cfg.id_col)
            # persisted for the same reason as `exact` above: the
            # near-dup build and the kept/loser branches all re-consume
            # the post-segment survivor frame.
            exact = (
                joined.where(F.col("n_kept") > 0)
                .withColumn("_norm_text", F.col("rewritten_text"))
                .drop("n_kept", "rewritten_text")
                .persist()
            )
        pairs = near_duplicates(
            exact,
            cfg.id_col,
            "_norm_text",
            n_hashes=cfg.minhash_hashes,
            shingle_k=cfg.shingle_k,
            threshold=cfg.near_dup_threshold,
        ).select("id_a", "id_b")
        clusters = connected_components(pairs)
        if cfg.near_dup_keep == "best":
            scored = clusters.join(
                exact.select(
                    F.col(cfg.id_col).alias("node"),
                    F.length(cfg.text_col).alias("_q"),
                ),
                "node",
            )
            rn = F.row_number().over(
                W.partitionBy("cluster").orderBy(
                    F.col("_q").desc(), F.col("node").asc()
                )
            )
            losers = (
                scored.select("node", rn.alias("_rn"))
                .where(F.col("_rn") != 1)
                .select(F.col("node").alias(cfg.id_col))
            )
        else:
            losers = clusters.where(F.col("node") != F.col("cluster")).select(
                F.col("node").alias(cfg.id_col)
            )
        kept = exact.select(cfg.id_col).join(losers, cfg.id_col, "left_anti")
        split = hash_split(kept, cfg.id_col, cuts=cfg.split_cuts)
        out = rej_gate.withColumn("outcome", F.lit("rejected:quality_gate"))
        if rej_segment is not None:
            out = out.unionByName(
                rej_segment.withColumn(
                    "outcome", F.lit("rejected:segment_dedup")
                )
            )
        return (
            out
            .unionByName(
                rej_exact.withColumn("outcome", F.lit("rejected:exact_dedup"))
            )
            .unionByName(
                losers.withColumn("outcome", F.lit("rejected:near_dedup"))
            )
            .unionByName(
                split.select(
                    cfg.id_col,
                    F.concat(F.lit("split:"), F.col("split")).alias("outcome"),
                )
            )
        )

    def run(
        self,
        docs: DataFrame,
        embeddings: DataFrame | None = None,
        *,
        checkpoint_stages: bool = False,
        resume: bool = False,
    ) -> dict:
        """``embeddings`` (optional): a frame with ``cfg.id_col`` and an
        ``embedding`` array column — supplying it enables the SemDeDup
        semantic-dedup stage after the text near-dup stage.

        ``checkpoint_stages``: materialize each stage's output to
        ``{out_dir}/stages/<name>`` parquet as it completes, so a
        killed run leaves durable progress. ``resume`` (implies
        checkpointing): any stage whose ``_SUCCESS`` marker exists is
        READ BACK instead of recomputed — its whole upstream DAG (gate
        stats, shingle/minhash build, k-means) never executes. Stage
        values round-trip parquet exactly, so a resumed run's outputs
        are row-identical to an uninterrupted one
        (``test_curation.py::test_curate_resume_skips_completed_stages``).
        """
        cfg = self.cfg
        if self.out_dir is None:
            raise ValueError(
                "run() writes curated/rejects tables — construct the "
                "pipeline with out_dir (classify() works without one)"
            )
        if cfg.near_dup_keep not in ("first", "best"):
            # A typo from a programmatic caller (the CLI's choices= guard
            # doesn't cover library use) would otherwise fall through to
            # the keep-first branch and silently change which documents
            # survive.
            raise ValueError(
                f"near_dup_keep={cfg.near_dup_keep!r} — must be 'first' or 'best'"
            )
        checkpoint_stages = checkpoint_stages or resume
        t0 = time.perf_counter()
        manifest: dict = {"stages": [], "config": {
            "near_dup_threshold": cfg.near_dup_threshold,
            "minhash_hashes": cfg.minhash_hashes,
            "shingle_k": cfg.shingle_k,
            "min_tokens": cfg.min_tokens,
            "max_tokens": cfg.max_tokens,
            "near_dup_keep": cfg.near_dup_keep,
            "segment_dedup": cfg.segment_dedup,
            "segment_len": cfg.segment_len,
        }}

        def stage(name: str, df: DataFrame) -> DataFrame:
            manifest["stages"].append({"stage": name, "rows": df.count()})
            return df

        stages_dir = os.path.join(self.out_dir, "stages")
        resumed: set[str] = set()
        if checkpoint_stages:
            # Config fingerprint (self-review r6): resuming onto
            # checkpoints written under a DIFFERENT config would
            # silently blend two pipelines (e.g. a gate threshold
            # change ignored because the old gate stage is reused).
            # Data identity stays the caller's contract, as with the
            # ingest ledger; config identity we can enforce.
            from dataclasses import asdict

            fp_path = os.path.join(stages_dir, "config.json")
            fingerprint = {
                k: v for k, v in asdict(cfg).items()
                if not isinstance(v, tuple)
            } | {"split_cuts": [list(c) for c in cfg.split_cuts]}
            if resume and os.path.exists(fp_path):
                with open(fp_path) as fh:
                    prior = json.load(fh)
                if prior != fingerprint:
                    diff = {
                        k: (prior.get(k), fingerprint.get(k))
                        for k in set(prior) | set(fingerprint)
                        if prior.get(k) != fingerprint.get(k)
                    }
                    raise ValueError(
                        "resume=True but the stage checkpoints were "
                        f"written under a different config: {diff} — "
                        "clear the stages/ dir or rerun with the "
                        "original config"
                    )
            else:
                os.makedirs(stages_dir, exist_ok=True)
                with open(fp_path, "w") as fh:
                    json.dump(fingerprint, fh, indent=2)

        def ckpt(name: str, build) -> DataFrame:
            """Materialize-or-reuse a stage frame: the persisted plan
            (default), a freshly written stage parquet
            (checkpoint_stages — the durable unit a kill can't lose),
            or the previous run's parquet untouched (resume hit — the
            ``build`` closure never runs, so neither does its DAG)."""
            if not checkpoint_stages:
                return build().persist()
            path = os.path.join(stages_dir, name)
            if resume and os.path.exists(os.path.join(path, "_SUCCESS")):
                resumed.add(name)
                return open_parquet(self.spark, path)
            build().write.mode("overwrite").parquet(path)
            return open_parquet(self.spark, path)

        docs = stage("input", docs)

        # 1+2. Normalize (the dedup key is the normalized text; the
        #    original text column is preserved for the output table),
        #    then the quality gate (map-only stats, flag-based
        #    routing). Rejects are kept, labeled, and written for
        #    audit. NULL flags (e.g. NULL text -> NULL token stats)
        #    route to the REJECT side: three-valued logic would
        #    otherwise drop the row from BOTH branches and break
        #    funnel conservation.
        def _build_gate() -> DataFrame:
            norm = docs.withColumn(
                "_norm_text", normalize_text(F.col(cfg.text_col))
            )
            gated = quality_gate(
                norm,
                cfg.id_col,
                "_norm_text",
                min_tokens=cfg.min_tokens,
                max_tokens=cfg.max_tokens,
                min_avg_token_len=cfg.min_avg_token_len,
                max_avg_token_len=cfg.max_avg_token_len,
                max_stopword_ratio=cfg.max_stopword_ratio,
                max_punct_ratio=cfg.max_punct_ratio,
            ).select(cfg.id_col, "passed")
            return norm.join(gated, cfg.id_col)

        ok = F.coalesce(F.col("passed"), F.lit(False))
        with_flag = ckpt("quality_gate", _build_gate)
        passed = stage("quality_gate", with_flag.where(ok).drop("passed"))
        rejects_quality = with_flag.where(~ok).drop("passed").withColumn(
            "reject_stage", F.lit("quality_gate")
        )

        # 3. Exact dedup on the normalized content hash (shuffle carries
        #    digests, not bodies); survivor = min id per hash. The
        #    survivor frame is materialized (persist or stage parquet):
        #    the near-dup build, both reject branches, the final write,
        #    and the stage counts all re-consume it.
        exact = stage(
            "exact_dedup",
            ckpt(
                "exact_dedup",
                lambda: passed.join(
                    content_hash_dedup(passed, cfg.id_col, "_norm_text").select(
                        cfg.id_col
                    ),
                    cfg.id_col,
                    "left_semi",
                ),
            ),
        )
        rejects_exact = passed.join(
            exact.select(cfg.id_col), cfg.id_col, "left_anti"
        ).withColumn("reject_stage", F.lit("exact_dedup"))

        # 3b. Optional exact-substring (segment) dedup: rewrite every
        #     document keeping only the first corpus-wide occurrence of
        #     each fixed-width token segment (Lee et al. 2022 style —
        #     kills shared boilerplate BEFORE near-dup, so the fuzzy
        #     stage measures real content overlap, not template glue).
        #     Documents emptied entirely are rejected with their own
        #     stage label; survivors carry the rewritten text forward
        #     as the dedup key.
        rejects_segment = None
        if cfg.segment_dedup:
            def _build_segment() -> DataFrame:
                rw = segment_dedup_rewrite(
                    exact.select(cfg.id_col, "_norm_text"),
                    cfg.id_col,
                    "_norm_text",
                    seg=cfg.segment_len,
                ).select(cfg.id_col, "n_kept", "rewritten_text")
                return exact.join(rw, cfg.id_col)

            joined = ckpt("segment_joined", _build_segment)
            kept_seg = (
                joined.where(F.col("n_kept") > 0)
                .withColumn("_norm_text", F.col("rewritten_text"))
                .drop("n_kept", "rewritten_text")
            )
            exact = stage(
                "segment_dedup",
                kept_seg if checkpoint_stages else kept_seg.persist(),
            )
            rejects_segment = (
                joined.where(F.col("n_kept") == 0)
                .drop("n_kept", "rewritten_text")
                .withColumn("reject_stage", F.lit("segment_dedup"))
            )

        # 4. Near-dup dedup: banded MinHash -> exact Jaccard pairs ->
        #    connected components -> keep the min-id representative of
        #    each duplicate cluster.
        def _build_near_dedup() -> DataFrame:
            pairs = near_duplicates(
                exact,
                cfg.id_col,
                "_norm_text",
                n_hashes=cfg.minhash_hashes,
                shingle_k=cfg.shingle_k,
                threshold=cfg.near_dup_threshold,
            ).select("id_a", "id_b")
            clusters = connected_components(pairs)
            if cfg.near_dup_keep == "best":
                # survivor = longest member (text length, min-id
                # tie-break): a cluster-keyed window argmax; any scalar
                # quality model slots into the ORDER BY (see
                # near_dup_keep_best entry).
                scored = clusters.join(
                    exact.select(
                        F.col(cfg.id_col).alias("node"),
                        F.length(cfg.text_col).alias("_q"),
                    ),
                    "node",
                )
                rn = F.row_number().over(
                    W.partitionBy("cluster").orderBy(
                        F.col("_q").desc(), F.col("node").asc()
                    )
                )
                losers = (
                    scored.select("node", rn.alias("_rn"))
                    .where(F.col("_rn") != 1)
                    .select(F.col("node").alias(cfg.id_col))
                )
            else:
                losers = clusters.where(
                    F.col("node") != F.col("cluster")
                ).select(F.col("node").alias(cfg.id_col))
            return exact.join(losers, cfg.id_col, "left_anti")

        deduped = stage("near_dedup", ckpt("near_dedup", _build_near_dedup))
        # losers ≡ exact minus survivors on the id column, so the
        # reject branch derives from the STAGE OUTPUT (resume-safe).
        rejects_near = exact.join(
            deduped.select(cfg.id_col), cfg.id_col, "left_anti"
        ).withColumn("reject_stage", F.lit("near_dedup"))

        # 4b. Optional SemDeDup semantic dedup (embedding space): text
        #     near-dup can't see paraphrases/translations that share no
        #     shingles; k-means-bounded cosine pairs can. Survivor per
        #     duplicate group = LOWEST cosine-to-centroid (diversity-
        #     maximizing, min-id tie-break). Docs without an embedding
        #     row are kept — absence of evidence is not a duplicate.
        rejects_semantic = None
        if embeddings is not None:
            sem_path = os.path.join(stages_dir, "semantic_dedup")
            if (
                resume
                and os.path.exists(os.path.join(sem_path, "_SUCCESS"))
            ):
                # resume hit: k-means / pair / closure never run, so
                # the trained k_eff is unknown here — the stage output
                # alone determines every downstream row.
                resumed.add("semantic_dedup")
                kept_sem = stage(
                    "semantic_dedup", open_parquet(self.spark, sem_path)
                )
                rejects_semantic = deduped.join(
                    kept_sem.select(cfg.id_col), cfg.id_col, "left_anti"
                ).withColumn("reject_stage", F.lit("semantic_dedup"))
                deduped = kept_sem
                manifest["config"]["semantic_threshold"] = cfg.semantic_threshold
                manifest["config"]["semantic_k"] = None
            else:
                from ..operators.similarity import (
                    clustered_similar_pairs,
                    cos_to_centroid,
                    kmeans_fit,
                )

                emb = embeddings.select(cfg.id_col, "embedding").join(
                    deduped.select(cfg.id_col), cfg.id_col, "left_semi"
                )
                k_eff = min(cfg.semantic_k, emb.count())
                if k_eff > 0:
                    centroids, assigned = kmeans_fit(
                        emb, cfg.id_col, "embedding",
                        k=k_eff, n_iters=cfg.semantic_iters,
                    )
                    assigned = assigned.persist()
                    assigned.count()
                    sem_pairs = clustered_similar_pairs(
                        assigned, cfg.id_col, threshold=cfg.semantic_threshold
                    )
                    comp = connected_components(sem_pairs, "id_a", "id_b").select(
                        "node", F.col("cluster").alias("comp")
                    )
                    c2 = cos_to_centroid(assigned, centroids).select(
                        F.col(cfg.id_col).alias("node"), "cos2c"
                    )
                    sem_rn = F.row_number().over(
                        W.partitionBy("comp").orderBy(
                            F.col("cos2c").asc(), F.col("node").asc()
                        )
                    )
                    sem_losers = (
                        comp.join(c2, "node")
                        .select("node", "comp", sem_rn.alias("_rn"))
                        .where(F.col("_rn") != 1)
                        .select(F.col("node").alias(cfg.id_col))
                    )
                    kept_sem = stage(
                        "semantic_dedup",
                        ckpt(
                            "semantic_dedup",
                            lambda: deduped.join(
                                sem_losers, cfg.id_col, "left_anti"
                            ),
                        ),
                    )
                    rejects_semantic = deduped.join(
                        kept_sem.select(cfg.id_col), cfg.id_col, "left_anti"
                    ).withColumn("reject_stage", F.lit("semantic_dedup"))
                    deduped = kept_sem
                    manifest["config"]["semantic_threshold"] = cfg.semantic_threshold
                    manifest["config"]["semantic_k"] = k_eff

        # 5. Deterministic split assignment (map-only md5 bucketing).
        final = hash_split(
            deduped.drop("_norm_text"), cfg.id_col, cuts=cfg.split_cuts
        )

        # 6. Write: curated corpus partitioned by split; rejects with
        #    their rejection stage for audit.
        curated_path = os.path.join(self.out_dir, "curated")
        rejects_path = os.path.join(self.out_dir, "rejects")
        final.write.mode("overwrite").partitionBy("split").parquet(curated_path)
        rejects = rejects_quality.unionByName(rejects_exact).unionByName(
            rejects_near
        )
        if rejects_segment is not None:
            rejects = rejects.unionByName(rejects_segment)
        if rejects_semantic is not None:
            rejects = rejects.unionByName(rejects_semantic)
        rejects = rejects.drop("_norm_text")
        rejects.write.mode("overwrite").partitionBy("reject_stage").parquet(
            rejects_path
        )

        split_counts = {
            r["split"]: r["n"]
            for r in final.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        manifest["splits"] = split_counts
        manifest["curated_path"] = curated_path
        manifest["rejects_path"] = rejects_path
        if resume:
            manifest["resumed_stages"] = sorted(resumed)
        manifest["wall_seconds"] = round((time.perf_counter() - t0) * 1000.0) / 1000.0
        with open(os.path.join(self.out_dir, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=2)
        # near_duplicates persists shared subplans for its own DAG; the
        # pipeline is the outermost consumer, so release them here.
        self.spark.catalog.clearCache()
        return manifest
