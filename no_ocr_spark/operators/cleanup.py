"""The full training-data cleanup cascade over EXTRACTED text — the
pipeline a 100 TB corpus actually runs after extraction:

    quality gates -> exact dedup -> MinHash-LSH near-dup removal -> clean

Composes the operator families (textstats quality signals, dedup MinHash
machinery) into one job-shaped function. Every stage is JVM-side
DataFrame logic: built-in expressions, plus one compiled Java UDF for the
per-document hashes (functions/docsig.py); no row reaches Python.
Stage-by-stage survivor counts come back as stats.

Scale shapes (the reason each stage looks the way it does):
  * exact dedup groups on xxhash64(text) — the shuffle key is 8 bytes, not
    documents (a second pass would resolve astronomically-unlikely hash
    collisions; at 10^12 docs that matters, here it is documented);
  * near-dup = banded MinHash-LSH candidates + slot-agreement verify —
    the linear-time path, dedup.minhash_pairs (the same banding policy
    dedup_minhash_pairs and near_dup_clusters run);
  * the drop rule is greedy keep-smallest-url: any url appearing as the
    LARGER side of a verified near-dup pair is dropped. One pass, no
    iteration; transitive chains collapse toward their smallest member
    (a connected-components pass is the exact variant; greedy is the
    standard corpus-dedup choice and deterministic);
  * every per-row hash runs once per document, in the one persisted
    stage: the cached rows carry the repetition flag `is_repetitive` and
    the MinHash `sig`, both from one kernel call that hashes each word
    once (functions/docsig.py). The gate filters the cached relation, and
    the LSH self-join reads `sig` from it instead of re-hashing `text` in
    each of its branches;
  * the PII scrub is a map transform on the rows entering the exact-dedup
    semi-join, before its shuffle (the dedup key is taken from the
    unscrubbed text), not a pass after the final anti-join, where AQE
    coalesced it into a single task.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from no_ocr_spark.functions.docsig import with_doc_sig
from no_ocr_spark.operators.dedup import minhash_pairs

MIN_TOKENS = 10


def _sig_losers(sigs: DataFrame) -> DataFrame:
    """(url, sig) -> urls to DROP: the larger url of every verified near-dup
    pair (dedup.minhash_pairs)."""
    return minhash_pairs(sigs, "url").select(F.col("b").alias("url")).distinct()


def near_dup_losers(docs: DataFrame) -> DataFrame:
    """(url, text) -> urls to DROP, as _sig_losers."""
    return _sig_losers(with_doc_sig(docs).select("url", "sig"))


def _scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact PII in `text` and, when present, in the nested span texts."""
    from no_ocr_spark.operators.webops import pii_scrub_expr

    docs = docs.withColumn("text", F.expr(pii_scrub_expr("text")))
    if "spans" in docs.columns:
        # the nested span texts carry the same content — scrubbing
        # only the top-level column would ship the PII anyway
        docs = docs.withColumn(
            "spans",
            F.expr(
                "transform(spans, s -> named_struct("
                "'page', s.page, "
                f"'text', {pii_scrub_expr('s.text')}, "
                "'x0', s.x0, 'y0', s.y0, 'x1', s.x1, 'y1', s.y1, "
                "'block', s.block, 'line', s.line))"
            ),
        )
    return docs


def clean_corpus(extracted: DataFrame, min_tokens: int = MIN_TOKENS,
                 ppl_max_bits: float | None = None) -> tuple[DataFrame, dict]:
    """extracted(url, text, ...) -> (clean DataFrame, stage stats).

    Stages: quality gates -> Gopher repetition gate -> [optional CCNet
    perplexity gate] -> exact dedup -> MinHash-LSH near-dup removal, with
    the PII scrub applied map-side to the rows entering the exact-dedup
    join (after the dedup keys are taken from the unscrubbed text, so it
    changes no dedup decision and costs no extra shuffle).

    ppl_max_bits, when set, drops documents whose mean bits-per-bigram
    under the corpus-slice bigram LM (operators/perplexity.py; reference
    slice = the deterministic xxhash64(url) % REF_MOD bucket) exceeds
    the threshold — CCNet's tail cut. It runs off the PERSISTED
    repetition stage, so the extra scoring branch rereads cached rows,
    not the extraction input; sub-2-token docs score NULL and are kept
    (the token-length gate already ruled on them)."""
    q_ok = (
        F.col("error").isNull()
        & (F.expr("size(split(text, ' '))") >= min_tokens)
    )
    # Audit counts ride actions the cascade runs anyway, as plan
    # observations (names must be session-unique): n_in/n_quality the
    # persist's materializing count below, the exact-dedup and clean
    # counts the CALLER'S final action — the anti-join streams every
    # `exact` row through its probe side, so observing that node counts
    # the exact-dedup survivors without a separate action. One action per
    # materialized stage boundary, none for the counts alone.
    run_id = uuid.uuid4().hex[:8]
    obs_quality = Observation(f"quality_{run_id}")
    obs_exact = Observation(f"exact_dedup_{run_id}")
    obs_clean = Observation(f"clean_{run_id}")
    quality = extracted.observe(
        obs_quality,
        F.count(F.lit(1)).alias("n_in"),
        F.count_if(q_ok).alias("n_quality"),
    ).filter(q_ok)

    # The one persisted stage: the cascade's per-row hashes — the Gopher
    # repetition flag and the MinHash signature, one kernel call per
    # document — run here once. The cache keeps `is_repetitive` and
    # `sig`, and the gate filters the CACHED relation: the cache is a plan
    # barrier, so the filter cannot be pushed down below the kernel's
    # projection (which would run the kernel again in the predicate).
    # Downstream consumers (dedup keepers, the semi-join probe side, the
    # near-dup self-join's two branches) read cached rows and never
    # re-hash. At 100 TB the equivalent boundary is a staging-table
    # write, exactly like run_with_lineage's extracted table.
    gated = with_doc_sig(quality).persist()
    rep = gated.filter(~F.col("is_repetitive")).drop("is_repetitive")
    n_rep = rep.count()
    n_q = obs_quality.get

    stats_ppl: dict = {}
    if ppl_max_bits is not None:
        from no_ocr_spark.operators.perplexity import (
            REF_MOD,
            score_perplexity,
        )

        ppl = score_perplexity(
            rep.select("url", "text"), id_col="url",
            ref_cond=F.pmod(F.xxhash64("url"), F.lit(REF_MOD)) == 0,
        )
        keep_urls = ppl.filter(
            F.col("ppl_bits").isNull()
            | (F.col("ppl_bits") <= ppl_max_bits)
        ).select("url")
        rep = rep.join(keep_urls, "url", "left_semi")
        # eager count on the persisted stage boundary (same rule as n_rep)
        stats_ppl["n_after_perplexity"] = rep.count()

    # exact dedup on the 8-byte hash of the UNSCRUBBED text; keep the
    # smallest url. The scrub runs in the probe side's map tasks, before
    # the first shuffle, where every cached partition is its own task.
    keepers = (
        rep.groupBy(F.xxhash64("text").alias("th"))
        .agg(F.min("url").alias("url"))
        .select("url")
    )
    exact = _scrub_pii(rep).join(keepers, "url", "left_semi")
    exact = exact.observe(obs_exact, F.count(F.lit(1)).alias("n"))

    losers = _sig_losers(exact.select("url", "sig"))
    clean = exact.join(losers, "url", "left_anti")
    clean = clean.observe(obs_clean, F.count(F.lit(1)).alias("n")).drop("sig")
    stats = {
        "n_in": int(n_q["n_in"]),
        "n_after_quality": int(n_q["n_quality"]),
        "n_after_repetition": n_rep,
        **stats_ppl,
    }

    def finalize(failed: bool = False) -> dict:
        """Call AFTER the caller's action over `clean` (write/collect):
        unpersists the repetition-stage cache (which would otherwise pin
        executor memory for the session lifetime) and resolves the
        observed stage counts, which a failed action (failed=True) never
        fills. Returns the completed stats."""
        gated.unpersist()
        if not failed:
            stats["n_after_exact_dedup"] = int(obs_exact.get["n"])
            stats["n_clean"] = int(obs_clean.get["n"])
        return stats

    stats["_finalize"] = finalize
    return clean, stats
