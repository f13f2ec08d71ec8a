"""Deduplication operator family for training-data pipelines:
exact, n-gram Jaccard, MinHash(+banded LSH pairs), SimHash(+Hamming pairs).

All scoring math is built from the dialect-paired expression library
(functions/textexpr.py), so the Spark plan stays JVM-side (no Python) and
the DuckDB oracle is the same formula. The text hashes are the exception
on the Spark side: the MinHash signature, the SimHash and the Jaccard
shingle hashes come from the compiled per-document kernels
(functions/docsig.py), which compute the textexpr formula without Spark's
interpreted higher-order-function lambdas.

To make the dedup queries demonstrate actual duplicate removal on the
driver's duplicate-free `documents` table, each query runs over an
*augmented corpus*: documents UNION ALL near-mutated copies (doc_id+100000,
text || ' zz qq') — a deterministic, SQL-expressible mutation both engines
apply identically.

Scale notes: exact dedup = one shuffle on the text hash (hash the text with
xxhash64 first at 100 TB so the shuffle moves 8-byte keys, not documents).
MinHash-LSH = the linear-time path: signatures map-side, the only shuffle is
the band-key self-join. n-gram Jaccard all-pairs is intentionally blocked
(lang + length band) — the quadratic verifier runs only within blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.functions import docsig
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

# 3-word shingles: the driver corpus's vocabulary is tiny, so the 2-word
# shingle universe degenerates (963 distinct shingles across 10k docs at
# sf0.1 — prefix postings of 500+, near-all-pairs candidates). Cubing the
# universe restores discrimination; same reason MinHash shingles are k=3.
_K_SHINGLE = 3
_MUT_SUFFIX = " zz qq"

_AUG_SQL = f"""
    SELECT doc_id, text, lang, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text || '{_MUT_SUFFIX}' AS text,
           lang, n_chars FROM documents
"""


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_MUT_SUFFIX)).alias("text"),
        "lang",
        "n_chars",
    )
    return docs.unionByName(mutated)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with an 8-BYTE shuffle key, not the document text.

    Pass 1 groups on h = xxhash64(text): the shuffle moves (h, doc_id) — 16
    bytes/row — never the corpus. Hash groups of size 1 are exact text
    groups by construction (nothing to collide with) and emit directly.
    Pass 2 re-groups ONLY the rows whose hash appears >= 2 times — actual
    duplicates plus the astronomically-rare collisions — by (h, text),
    which resolves collisions exactly; at real-corpus dup rates that text
    shuffle is the duplicate subset, not the corpus. The result set is
    therefore IDENTICAL to the naive groupBy(text) — which is exactly what
    the DuckDB oracle runs, so the equivalence is independently verified.
    (Same formulation as the production cleanup cascade, cleanup.py.)

    Measured (sf0.1, local[8], UI REST stage totals): 0.25 MB shuffle
    write vs 1.70 MB for groupBy(text) — 6.7x, bounded below by the
    synthetic corpus's short ~250-char docs; on KB-scale real pages the
    ratio is the text/16-byte ratio, two orders of magnitude.
    """
    # no fan-out: the per-row work is ONE xxhash64, and a fan-out would
    # shuffle the full text for nothing
    aug = _augmented(spark, sf_dir).withColumn(
        "h", F.xxhash64("text")
    )
    by_hash = aug.groupBy("h").agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )
    singletons = by_hash.filter(F.col("n_copies") == 1).select(
        "keeper", "n_copies"
    )
    dup_hashes = by_hash.filter(F.col("n_copies") >= 2).select("h")
    # left-semi on the (small) duplicated-hash set; AQE broadcasts it when
    # it fits, falls back to shuffled semi-join when it does not
    resolved = (
        aug.join(dup_hashes, "h", "left_semi")
        .groupBy("h", "text")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
        .select("keeper", "n_copies")
    )
    return singletons.unionByName(resolved)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise n-gram Jaccard >= 0.5 within (lang, +-40 chars), reported as
    EXACT integers (inter/union sizes) — no floating point anywhere.

    Candidate generation is PREFIX FILTERING (the AllPairs/PPJoin family,
    Bayardo et al., WWW'07 — public): order every doc's shingle tokens by
    ascending global frequency, keep only the first |A| - ceil(t*|A|) + 1
    tokens (t=0.5 => ~half), and equi-join docs on (lang, prefix token).
    Any pair with J >= t MUST share a prefix token under a consistent
    global order (if all common tokens sat in both suffixes, the overlap
    could be at most min(ceil(t|A|), ceil(t|B|)) - 1 < t(|A|+|B|)/(1+t),
    contradicting J >= t), so the join is LOSSLESS — the DuckDB oracle is
    the naive blocked formulation and matches exactly. Frequency-ascending
    ordering pushes hot (stopword-ish) shingles out of every prefix, so
    posting lists stay short and candidate volume stays near-linear as the
    corpus grows — unlike length-band blocking, whose per-block population
    is proportional to n (O(n^2) per block at any fixed bucket width).

    Shingles are compared as 64-bit POLY HASHES (same dialect-paired
    formula as MinHash): bigint intersections are ~4x cheaper than string
    ones, and both engines hash identically so sizes agree exactly. The
    verify step re-checks lang/length/size-ratio and computes the exact
    intersection; union is derived as |A|+|B|-|AnB| (arrays are distinct).

    Empty shingle sets (docs under k=3 words): the Spark side can never
    emit such a pair — a doc with no shingles has no prefix tokens, so the
    equi-join generates no candidate for it (and a pair with exactly one
    empty side fails inter*2 >= union since inter=0 < union). The oracle
    must match that convention explicitly: J(∅,∅) is 0/0, and this query
    defines it as NOT a duplicate (len(sh) > 0 on both sides in the SQL) —
    otherwise two sub-3-word docs in the same lang within 40 chars would
    pass the oracle's 0 >= 0 threshold while the Spark side stays silent.
    """

    # a null text has no shingles, as a doc of fewer than 3 words
    shx = (f"coalesce(array_distinct("
           f"{docsig.word_grams(spark, 'text', _K_SHINGLE)}), array())")
    d = materialize(
        fan_out_for_cpu(_augmented(spark, sf_dir), spark)
        .select("doc_id", "lang", "n_chars", F.expr(shx).alias("sh"))
    )

    tok = d.select("doc_id", "lang", "n_chars", F.size("sh").alias("sz"),
                   F.explode("sh").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    # per-doc frequency-ascending order via collect_list + array_sort
    # instead of a row_number window (r6, guide §2.4): the window sorted
    # every (doc, token) row inside corpus-wide shuffle partitions; the
    # aggregation shuffles the same rows but only array-sorts each doc's
    # ~40 structs. (tf, tok) pairs are distinct per doc, so the sorted
    # order — and the selected prefix — is exactly the window's.
    # prefix length for t=0.5: sz - ceil(sz/2) + 1 = floor(sz/2) + 1
    prefix = (
        tok.join(freq, "tok")
        .groupBy("doc_id", "lang", "n_chars", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("tf", "tok"))).alias("a"))
        .select(
            "doc_id", "lang", "n_chars", "sz",
            F.posexplode(F.expr(
                "slice(a, 1, cast(floor(sz / 2) + 1 as int))")).alias(
                    "p0", "s"),
        )
        .select("doc_id", "lang", "n_chars", "sz",
                (F.col("p0") + 1).alias("rn"), F.col("s.tok").alias("tok"))
    )
    # shuffle_hash (not broadcast) for the self-join: with both sides
    # shuffled on the same key the two prefix subtrees canonicalize to the
    # SAME Exchange and ReuseExchange computes the (expensive) prefix
    # pipeline once; a broadcast build side would recompute it (measured
    # 10x wall on this query).
    #
    # r6 (guide §2.3): every pair-level predicate that needs only
    # (n_chars, sz, rn) moves INTO the join, ahead of the distinct() —
    # the +-40-chars band, the size-ratio test, and the PPJoin positional
    # filter (Xiao et al., WWW'08, public): at a shared prefix token
    # sitting at sorted positions rnA/rnB, the overlap can be at most
    # 1 + min(szA - rnA, szB - rnB), and a true J>=0.5 pair needs
    # 3*inter >= szA + szB, so any qualifying pair passes at its FIRST
    # shared prefix token (bound valid there; candidates stay a lossless
    # superset — the exact verify below is unchanged). Measured sf=1:
    # 56.3M -> 2.5M distinct-input candidate rows.
    pa, pb = prefix.alias("pa"), prefix.hint("shuffle_hash").alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.lang") == F.col("pb.lang"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.abs(F.col("pa.n_chars") - F.col("pb.n_chars")) <= 40)
            & (F.least(F.col("pa.sz"), F.col("pb.sz")) * 2
               >= F.greatest(F.col("pa.sz"), F.col("pb.sz")))
            & ((F.lit(1) + F.least(F.col("pa.sz") - F.col("pa.rn"),
                                   F.col("pb.sz") - F.col("pb.rn"))) * 3
               >= F.col("pa.sz") + F.col("pb.sz")),
        )
        .select(F.col("pa.doc_id").alias("doc_a"),
                F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )

    da = d.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("la"),
                  F.col("n_chars").alias("ca"), F.col("sh").alias("sh_a"))
    db = d.select(F.col("doc_id").alias("doc_b"),
                  F.col("n_chars").alias("cb"), F.col("sh").alias("sh_b"))
    inter = tx.intersect_size("spark", "sh_a", "sh_b")
    # the verify joins follow the broadcast threshold: the per-doc
    # signature projection grows with the corpus, so AQE broadcasts it
    # while it fits and shuffles it once it does not
    return (
        cand.join(da, "doc_a").join(db, "doc_b")
        .filter(
            (F.abs(F.col("ca") - F.col("cb")) <= 40)
            & (F.least(F.size("sh_a"), F.size("sh_b")) * 2
               >= F.greatest(F.size("sh_a"), F.size("sh_b")))
        )
        .select(
            "doc_a", "doc_b",
            F.expr(inter).alias("inter_size"),
            (F.size("sh_a") + F.size("sh_b")).alias("sum_sizes"),
        )
        .withColumn("union_size", F.col("sum_sizes") - F.col("inter_size"))
        .filter(F.col("inter_size") * 2 >= F.col("union_size"))
        .select("doc_a", "doc_b", "inter_size", "union_size")
    )


def minhash_pairs(sigs: DataFrame, key: str) -> DataFrame:
    """(key, sig) -> (a, b, slots_equal) with a < b: the banded MinHash-LSH
    near-dup pairs. 2 bands x 4 slots generate candidates (the self-join
    shuffles on the band key — linear-time at corpus scale), then the
    verify step keeps pairs agreeing on >= 6 of 8 signature slots. Tight
    bands + verification keep the candidate set near-linear even on
    small-vocabulary corpora where loose bands explode quadratically
    (measured: 4x2 bands produced 6.6M candidates at sf0.1; 2x4 + verify
    produces the true near-dup set). A pair with 6 equal slots but one
    difference in each band is never a candidate: that is the recall
    bound of this banding.

    A pair sharing both bands is emitted once, from band 0, by a
    first-agreeing-band filter instead of a distinct() shuffle (the
    simhash_pairs discipline): band 0 rows always pass; a band 1 row
    survives only when band 0 did NOT already join this pair."""
    bands = sigs.select(
        key, "sig",
        F.explode(F.expr(
            "array(named_struct('band_id', 0, 'bh', slice(sig, 1, 4)), "
            "named_struct('band_id', 1, 'bh', slice(sig, 5, 4)))"
        )).alias("b"),
    ).select(key, "sig", "b.band_id", "b.bh")
    x, y = bands.alias("x"), bands.alias("y")
    # unrolled over the 8 slots: no lambda, so the verify stays in codegen
    slots_eq = F.expr(" + ".join(
        f"IF(x.sig[{i}] = y.sig[{i}], 1, 0)" for i in range(8)))
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col(f"x.{key}") < F.col(f"y.{key}")),
        )
        .filter(
            (F.col("x.band_id") == 0)
            | ~F.expr("slice(x.sig, 1, 4) = slice(y.sig, 1, 4)")
        )
        .select(
            F.col(f"x.{key}").alias("a"),
            F.col(f"y.{key}").alias("b"),
            slots_eq.alias("slots_equal"),
        )
        .filter(F.col("slots_equal") >= 6)
    )


def _with_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + MinHash signature of the augmented corpus."""
    docs = fan_out_for_cpu(_augmented(spark, sf_dir), spark)
    return docsig.with_doc_sig(docs).select("doc_id", "sig")


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs (minhash_pairs) over the
    augmented corpus."""
    return minhash_pairs(_with_sig(spark, sf_dir), "doc_id").select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "slots_equal"
    )


def near_dup_edges_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) edge set with EXACTLY the connectivity of
    q_dedup_minhash_pairs' pair graph, built over DISTINCT signatures
    (r6, guide §2.3 "shuffle keys instead of payloads" / the simhash
    distinct-value discipline).

    Why connectivity is preserved — slots_equal is a pure function of
    the two SIGNATURES, so for docs grouped by identical sig:
      * within a group every member pair agrees 8/8 >= 6 slots (all are
        verified pairs; the group is a clique in the pair graph) — a
        star rep->member has the same connected component;
      * between two groups either EVERY member cross-pair verifies or
        NONE does (the slot test never sees doc ids) — one rep->rep
        edge per verified sig pair carries that adjacency;
      * no verified pair exists outside these two cases.
    Components (and so min-reachable-doc_id labels) are identical, and
    the vertex set matches too: multi-member groups appear via their
    star, singleton reps exactly when some cross-group pair verifies —
    the same condition under which the doc appears in the pair graph.

    Scale: the band self-join runs over |distinct sigs| rows (34k vs
    200k doc x band rows at the 10x bench scale; candidate buckets
    shrink quadratically) and CC's iteration input drops from the
    output-sized pair list (1.05M) to ~|docs| star edges + verified
    sig-pair edges (~90k)."""
    d = materialize(_with_sig(spark, sf_dir))
    groups = materialize(d.groupBy("sig").agg(F.min("doc_id").alias("rep")))
    stars = (
        d.join(groups, "sig")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
    )
    rep_pairs = minhash_pairs(groups, "rep").select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return stars.unionByName(rep_pairs)


# second hash family for simhash bits 30+ (vs MULT=31): the kernel's
# (docsig.simhash), mirrored by the oracle's word_hashes2
_SIM_MULT2 = 131


def _with_simhash(spark: SparkSession, sf_dir: str, n_bits: int) -> DataFrame:
    return fan_out_for_cpu(_augmented(spark, sf_dir), spark).select(
        "doc_id",
        F.expr(docsig.simhash(spark, "text", n_bits)).alias("simhash"),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash over word tokens."""
    return _with_simhash(spark, sf_dir, 16)


def simhash_band_bits_for(n_docs: int, target_bucket_size: int = 16) -> int:
    """Adaptive band WIDTH (VERDICT r4 #4) — the same constant-bucket law
    as retrieval.lsh_bits_for: a (band_id, band_value) bucket holds
    ~n/2^w docs, so w = log2(n / target) keeps expected bucket size (and
    the per-bucket quadratic candidate cost) CONSTANT as the corpus
    grows — total candidate work O(n * target), linear. Clamped to
    [10, 20]: every n <= 16384 pins w=10 / a 30-bit signature (the
    regime of every oracle-graded scale — the static DuckDB all-pairs
    oracle mirrors exactly this width), and 20 is the 60-bit signature
    cap (two 30-bit hash families). RECALL BOUND per width: the band
    count stays 3, so the pigeonhole guarantee (hamming <= 2 implies
    some band identical) holds at EVERY width — banding never loses a
    pair; what widens is the signature itself, making `hamming <= 2 of
    3w bits` a proportionally stricter similarity bar (the standard
    simhash practice: fingerprint length grows with corpus size, e.g.
    64-bit at web scale)."""
    import math

    return min(20, max(10, math.ceil(
        math.log2(max(2, n_docs) / target_bucket_size))))


def simhash_pairs(d: DataFrame, band_bits: int) -> DataFrame:
    """Banded Hamming<=2 self-join over a (doc_id, simhash) frame whose
    simhash is 3*band_bits wide. Pigeonhole: <= 2 differing bits across 3
    bands leaves >= 1 band bit-identical, so the (band_id, band_value)
    equi-join yields a lossless candidate superset; bit_count(xor) <= 2
    verifies exactly. The only shuffle is the band-key self-join — no
    cartesian at any width.

    Multi-band duplicate suppression is a JOIN-SIDE filter, not a
    distinct(): a pair agreeing in several bands is emitted ONLY from its
    lowest agreeing band (band b qualifies iff every band below b
    differs — computable from the two simhashes already on the joined
    row). The emitted multiset is exactly the old distinct() output (one
    row per qualifying pair; hamming is pair-determined), but the
    corpus-pair-sized Exchange + HashAggregate the distinct() cost is
    gone (r6 optimization, guide §2.4 — at sf=1 that shuffle moved ~23M
    pair rows to drop the ~2x band duplicates)."""
    mask = (1 << band_bits) - 1
    # r6 (guide §2.3/§2.5): band over DISTINCT simhashes, not docs. The
    # synthetic corpus is signature-degenerate (sf=1: 300k band rows in
    # 3,046 buckets, hottest bucket 22,791 docs -> 652M candidate pairs
    # for 23.3M real ones); grouping docs by simhash first shrinks every
    # bucket by its duplication factor (quadratic effect on candidate
    # work: 652M -> 102M at sf=1), and the doc-pair expansion afterwards
    # is output-sized. The emitted pair set is EXACTLY the old one: a
    # doc pair (a<b) qualifies iff its two simhash groups agree on a
    # band (same pigeonhole, applied group-level) and bit_count <= 2,
    # same-group pairs have hamming 0 by construction, and the
    # first-agreeing-band filter keeps multi-band group matches single.
    g = materialize(d.groupBy("simhash").agg(
        F.collect_list("doc_id").alias("ms")))
    band_arr = (
        "array(" + ", ".join(
            f"named_struct('band_id', {b}, 'bv', "
            f"shiftright(simhash, {b * band_bits}) & {mask})"
            for b in range(3)
        ) + ")"
    )
    bands = g.select(
        "simhash", F.explode(F.expr(band_arr)).alias("b")
    ).select("simhash", "b.band_id", "b.bv")
    # Salt the self-join (guide §2.5): bucket population is quadratic in
    # join OUTPUT, which AQE's skew handling cannot see (it splits by
    # INPUT partition bytes; a hot bucket is a few hundred KB in, tens
    # of millions of pairs out — measured: one task ran the 21M-pair
    # bucket alone for ~40s, and AQE's small-input coalescing then
    # merged the whole few-MB join into ONE task). The left side takes
    # a deterministic simhash-hash salt, the right side replicates over
    # all S salts, so every bucket's pair work spreads S ways and each
    # group pair is still generated exactly once (the left row's salt
    # is fixed). The explicit repartition by the join keys pins the
    # task count — user-specified partitioning is exempt from AQE
    # coalescing, which would otherwise undo the salting.
    n_salts = d.sparkSession.sparkContext.defaultParallelism
    a = bands.withColumn(
        "salt", F.pmod(F.xxhash64("simhash"), F.lit(n_salts)).cast("int")
    ).repartition(n_salts, "band_id", "bv", "salt").alias("a")
    b = bands.select(
        "simhash", "band_id", "bv",
        F.explode(F.expr(
            f"sequence(0, {n_salts - 1})")).alias("salt"),
    ).repartition(n_salts, "band_id", "bv", "salt").alias("b")
    # band k of (x ^ y) is zero iff band k agrees; first agreeing band
    # <=> all lower bands have a non-zero xor slice
    first_band = F.expr(
        "CASE a.band_id WHEN 0 THEN true WHEN 1 THEN "
        f"((a.simhash ^ b.simhash) & {mask}) != 0 "
        "ELSE "
        f"((a.simhash ^ b.simhash) & {mask}) != 0 AND "
        f"(shiftright(a.simhash ^ b.simhash, {band_bits}) & {mask}) != 0 "
        "END"
    )
    gp = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .filter(first_band)
        .select(
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
    )
    # attach member lists, then expand to doc pairs; expansion cost is
    # exactly the output size. The joins follow the broadcast threshold:
    # g holds one row per distinct simhash, which grows with the corpus
    ga = g.select(F.col("simhash").alias("sa"), F.col("ms").alias("ams"))
    gb = g.select(F.col("simhash").alias("sb"), F.col("ms").alias("bms"))
    cross = (
        gp.join(ga, "sa")
        .join(gb, "sb")
        .select("bms", "hamming", F.explode("ams").alias("x"))
        .select("hamming", "x", F.explode("bms").alias("y"))
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "hamming",
        )
    )
    within = (
        g.filter(F.size("ms") > 1)
        .select(F.col("ms").alias("bms"), F.explode("ms").alias("x"))
        .select("x", F.explode("bms").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(within)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 2, banded
    (linear-time), with the band width ADAPTIVE in corpus size: 3 bands
    of simhash_band_bits_for(n) bits each, n taken from the parquet
    footers (driver-side metadata — no plan-build Spark job). At every
    oracle-graded scale the rule pins the historical 3x10-bit/30-bit
    shape, which the static DuckDB all-pairs oracle mirrors; at sf=1
    (where the fixed 10-bit bands went superlinear — BENCH r4 measured
    3.4s -> 60s at 10x from band-bucket pair density) the width grows to
    keep expected bucket size constant."""
    from no_ocr_spark.sources.tables import table_rows

    n_aug = 2 * table_rows(sf_dir, "documents")  # corpus + mutated copies
    w = simhash_band_bits_for(n_aug)
    return simhash_pairs(_with_simhash(spark, sf_dir, 3 * w), w)


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
}

_D_WH = tx.word_hashes(tx.words("duckdb", "text"))
_D_SHH = tx.shingle_hashes_from_word_hashes("word_hashes")
_D_SH2 = tx.shingle_hashes_from_word_hashes("word_hashes", k=_K_SHINGLE)
_D_SIG = tx.minhash_signature_from_hashes("shingle_hashes")
_D_SIG_CTE = f"""
        wh AS (SELECT doc_id, {_D_WH} AS word_hashes FROM aug),
        h AS (SELECT doc_id, {_D_SHH} AS shingle_hashes FROM wh),
        s AS (SELECT doc_id, {_D_SIG} AS sig FROM h)
"""
_D_SIM = tx.simhash_from_word_hashes("word_hashes", 16)


def _gate_simpair_bits() -> int:
    """Band width the adaptive rule yields at the DRIVER-GRADED scale
    (DEFAULT_SF_DIR's documents table) — the oracle SQL is static, so
    it is built at import for exactly that width, from the SAME rule
    the query applies (single source; review finding: a hardcoded 30
    would silently diverge from the query on any graded corpus past
    the 10-bit clamp)."""
    try:
        from no_ocr_spark.sources.tables import DEFAULT_SF_DIR, table_rows

        n_aug = 2 * table_rows(DEFAULT_SF_DIR, "documents")
    except (OSError, ImportError):  # gate tables absent in this env
        n_aug = 10_000  # historical gate scale
    return simhash_band_bits_for(n_aug)


_GATE_SIMPAIR_BITS = 3 * _gate_simpair_bits()
_D_WH2 = tx.word_hashes(tx.words("duckdb", "text"), mult=_SIM_MULT2)


def _d_simhash_wide(n_bits: int) -> str:
    """DuckDB mirror of docsig.simhash: low 30 bits from word_hashes,
    bits 30+ from the second family column word_hashes2."""
    lo = tx.simhash_from_word_hashes("word_hashes", min(n_bits, 30))
    if n_bits <= 30:
        return lo
    hi = tx.simhash_from_word_hashes("word_hashes2", n_bits - 30)
    return f"(({lo}) + (({hi}) * {1 << 30}))"


_D_SIMP = _d_simhash_wide(_GATE_SIMPAIR_BITS)

ORACLES = {
    "dedup_exact": f"""
        WITH aug AS ({_AUG_SQL})
        SELECT min(doc_id) AS keeper, count(*) AS n_copies
        FROM aug GROUP BY text
    """,
    "dedup_ngram_jaccard": f"""
        WITH aug AS ({_AUG_SQL}),
        wh AS (SELECT doc_id, lang, n_chars, {_D_WH} AS word_hashes FROM aug),
        d AS (SELECT doc_id, lang, n_chars, {_D_SH2} AS sh FROM wh)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {tx.intersect_size("duckdb", "a.sh", "b.sh")}::INT AS inter_size,
               (len(a.sh) + len(b.sh)
                - {tx.intersect_size("duckdb", "a.sh", "b.sh")})::INT AS union_size
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 40
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND {tx.intersect_size("duckdb", "a.sh", "b.sh")} * 2
              >= len(a.sh) + len(b.sh)
                 - {tx.intersect_size("duckdb", "a.sh", "b.sh")}
    """,
    "dedup_minhash_pairs": f"""
        WITH aug AS ({_AUG_SQL}),
        {_D_SIG_CTE},
        bands AS (
            SELECT doc_id, sig, j AS band_id, sig[4*j+1 : 4*j+4] AS bh
            FROM s, unnest(generate_series(0, 1)) AS t(j))
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               len(list_filter(list_transform(generate_series(1, 8),
                   i -> x.sig[i] = y.sig[i]), b -> b))::INT AS slots_equal
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.bh = y.bh
         AND x.doc_id < y.doc_id
        WHERE len(list_filter(list_transform(generate_series(1, 8),
                  i -> x.sig[i] = y.sig[i]), b -> b)) >= 6
    """,
    "dedup_simhash": f"""
        WITH aug AS ({_AUG_SQL}),
        wh AS (SELECT doc_id, {_D_WH} AS word_hashes FROM aug)
        SELECT doc_id, {_D_SIM} AS simhash FROM wh
    """,
    "dedup_simhash_pairs": f"""
        WITH aug AS ({_AUG_SQL}),
        wh AS (SELECT doc_id, {_D_WH} AS word_hashes,
                       {_D_WH2} AS word_hashes2 FROM aug),
        s AS (SELECT doc_id, {_D_SIMP} AS simhash FROM wh)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
}
