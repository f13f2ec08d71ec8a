"""Physical-plan audit: dump .explain("formatted") for the headline queries
and check the plan properties the engine promises (SURVEY.md §4):

  * point lookups push predicates into the parquet scan (PushedFilters),
  * small-side joins go broadcast (BroadcastHashJoin),
  * top-k compiles to TakeOrderedAndProject (no global sort),
  * scalar pipelines run inside WholeStageCodegen,
  * extraction scans prune to the needed columns (ReadSchema).

It also lists, over every registered query, the operators whose
expressions hold the same `lambdafunction` subtree (the higher-order call
with its inputs) more than once: the shape Catalyst leaves when it
inlines a multi-referenced higher-order column into a predicate or
projection, where each copy is interpreted again per row. A call of one
of the per-document hash kernels (functions/docsig.py) is listed when an
operator repeats one that it or an operator above it already makes: a
predicate pushed below the kernel's projection runs it twice per row
(repeated_lambdas). Text hashes belong in those kernels, so it also lists
the operators that hash per character in a lambda (per_char_lambdas).

Usage: python scripts/explain_audit.py [sf_dir]   (writes BENCH/plans.md)
"""

from __future__ import annotations

import io
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from no_ocr_spark.functions.docsig import KERNELS  # noqa: E402

CHECKS = {
    "point_lookup": ["PushedFilters: \\[IsNotNull\\(p_partkey\\), EqualTo\\(p_partkey,100\\)"],
    "topk_order_revenue": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    "broadcast_lookup_join": ["BroadcastHashJoin"],
    "cosine_topk": ["TakeOrderedAndProject", "BroadcastNestedLoopJoin|BroadcastExchange"],
    "anti_join_resume": ["BroadcastHashJoin.*LeftAnti|LeftAnti"],
    # AQE's formatted explain hides WholeStageCodegen spans pre-execution;
    # partial+final HashAggregate + pushed scan filter are the markers.
    "agg_pricing_summary": ["HashAggregate", r"PushedFilters: \[IsNotNull\(l_shipdate\)"],
    "dedup_minhash_pairs": ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
    "window_rank": ["Window", "WindowGroupLimit"],
    # banded/bucketed pair generators: MUST be equi-joins, NEVER cartesian
    # ("!" prefix = the pattern must be ABSENT from the plan)
    "dedup_simhash_pairs": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    "dedup_ngram_jaccard": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    "lsh_bucket_pairs": [
        "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
        "!CartesianProduct", "!BroadcastNestedLoopJoin",
    ],
    # IVF k-means build: broadcast centroid assignment, no shuffled cartesian
    "ann_ivf_kmeans": ["BroadcastNestedLoopJoin|BroadcastExchange",
                       "!CartesianProduct"],
    # T6 embedding map: Arrow-batched python operator, no row-Python
    "embed_map": ["MapInPandas", "!BatchEvalPython"],
    "search_flow_embedded": ["TakeOrderedAndProject", "MapInPandas"],
    # exact dedup: two-pass hash-key formulation — pass 1 aggregates on the
    # 8-byte hash, the duplicated-hash subset resolves via semi join, the
    # two passes union; no join may degenerate to a cartesian
    "dedup_exact": ["HashAggregate", "LeftSemi", "Union",
                    "!CartesianProduct"],
    # nested multi-vector MaxSim: broadcast 1-row query + top-k, no sort
    "maxsim_nested": ["TakeOrderedAndProject",
                      "BroadcastNestedLoopJoin|BroadcastExchange"],
    # WARC ingestion: Arrow-batched record explode + extraction, zero
    # row-Python
    "warc_extract": ["MapInPandas", "!BatchEvalPython"],
    # targeted-salted host stats: two-stage aggregation (partial on
    # (host, salt), final on host) over the extraction operator; heavy-
    # host detection arrives as a BROADCAST build side inside the same
    # DAG (round 4 — composing fires no job)
    "extract_host_stats": ["HashAggregate", "MapInPandas",
                           "BroadcastHashJoin", "!BatchEvalPython"],
    # exact per-key percentiles: one hash/sort aggregation, no window
    "percentiles": ["HashAggregate|ObjectHashAggregate|SortAggregate"],
    # TF-IDF salient terms: df side broadcasts, top-k pushes into the sort
    "tfidf_top_terms": ["BroadcastHashJoin", "WindowGroupLimit"],
    # repetition signals: pure Catalyst lambdas — zero Python, no joins
    "repetition_stats": ["!BatchEvalPython", "!MapInPandas",
                         "!CartesianProduct"],
    # cross-doc line dedup (round-4 hash-keyed): keep-first aggregates on
    # xxhash64(line); only the duplicated-hash subset re-groups with text
    # (LeftSemi, the dedup_exact pattern); re-assembly is map-side
    "line_dedup": ["HashAggregate", "LeftSemi", "!CartesianProduct",
                   "!BatchEvalPython"],
    # decontamination: the benchmark gram set must BROADCAST (tiny side)
    "decontaminate": ["BroadcastHashJoin", "!CartesianProduct",
                      "!SortMergeJoin"],
    # per-domain quota: the limit pushes into the per-domain sort
    "host_quota": ["WindowGroupLimit"],
    # deterministic sampling: map-only membership + tiny rollup, zero Python
    "hash_sample": ["HashAggregate", "!BatchEvalPython", "!MapInPandas"],
    # URL canonicalization: pure codegen regex chain, no Python, no shuffle
    "url_canonicalize": ["!BatchEvalPython", "!MapInPandas", "!Exchange"],
    # PII scrubbing: map-only redaction, zero Python, no shuffle
    "pii_scrub": ["!BatchEvalPython", "!MapInPandas", "!Exchange"],
    # merge read-back: a parquet scan of the current snapshot's bucket
    # leaves, zero Python (the interesting plans — touched-bucket reads,
    # the one partitionBy-bucket write per commit — run inside
    # merge_upsert/delete_keys and are unit-audited)
    "merge_upsert_read": ["Scan parquet", "!BatchEvalPython",
                          "!MapInPandas"],
    # real-codec multimodal family (round 4): two chained Arrow stages
    # (encode -> binary column -> decode), zero row-Python; the payload
    # column rides the narrow pipeline between the two UDFs. ONE
    # RoundRobin Exchange may appear BELOW the first UDF: the fan-out rule
    # (plans/partitioning.fan_out_for_cpu) shuffles to defaultParallelism
    # unless at least that many scan tasks receive rows (min(splits, row
    # groups) for parquet), so it engages on the single-row-group bench
    # files and is a no-op (no Exchange) on inputs of many row groups.
    "image_thumbnails": ["MapInPandas", "!BatchEvalPython",
                         "!Exchange hashpartitioning"],
    "jpeg_roundtrip": ["MapInPandas", "!BatchEvalPython",
                       "!Exchange hashpartitioning"],
    # page rasterization: single Arrow stage over a pruned 2-column scan
    # (same conditional fan-out note as above)
    "page_rasters": ["MapInPandas", "!BatchEvalPython",
                     "!Exchange hashpartitioning"],
    # sequence packing: ONE shuffle (the group-by-lang exchange), then a
    # grouped Arrow pass; no row-Python
    "pack_sequences": ["FlatMapGroupsInPandas|MapInPandas",
                       "!BatchEvalPython", "!CartesianProduct"],
    # BPE encoding plan (training ran at compose time, disclosed): one
    # Arrow stage with the broadcast ranks, zero row-Python
    "bpe_tokenize": ["MapInPandas", "!BatchEvalPython",
                     "!CartesianProduct"],
    # robots gate: host-scoped rules BROADCAST into the match join; the
    # per-URL longest-match window; never a cartesian
    "robots_filter": ["BroadcastHashJoin", "Window",
                      "!CartesianProduct", "!BatchEvalPython"],
    # re-crawl Bloom gate (round 5, full-text md5): bitset = one grouped
    # bit_or; probe join BROADCASTS the bitset; zero Python
    "bloom_dedup": ["HashAggregate", "BroadcastHashJoin",
                    "!CartesianProduct", "!BatchEvalPython"],
    # RAG chunking: pure codegen sequence/substring explode — zero
    # Python, zero shuffle
    "chunk_documents": ["!BatchEvalPython", "!MapInPandas", "!Exchange"],
    # repeated-substring removal (round 5): gram counts aggregate on the
    # 8-byte hash; the join back is hash-keyed; the rebuild is map-side
    # array lambdas — zero Python, never cartesian
    "substring_dedup": ["HashAggregate", "!CartesianProduct",
                        "!BatchEvalPython", "!MapInPandas"],
    # SQ8 (round 5): dim-stats ride a one-row BROADCAST into the encode
    # expression (no driver collect); exact top-k; never a cartesian
    "ann_sq8_topk": ["TakeOrderedAndProject",
                     "BroadcastExchange|BroadcastNestedLoopJoin",
                     "!CartesianProduct", "!BatchEvalPython"],
    # PQ (round 5): codebook/distance tables ride BROADCAST joins, the
    # ADC score ends in exact top-k; never a cartesian, zero row-Python
    "ann_pq_topk": ["TakeOrderedAndProject", "BroadcastExchange",
                    "!CartesianProduct", "!BatchEvalPython"],
    # anchor-text top-k (round 5): one Arrow DOM stage, per-host top-k
    # pushed into the sort (WindowGroupLimit); zero row-Python
    "anchor_text_topk": ["MapInPandas", "WindowGroupLimit",
                         "!BatchEvalPython", "!CartesianProduct"],
    # compression-ratio signal (round 5): ONE map-only Arrow stage over a
    # pruned 2-column scan; ratio/verdict are codegen on top — zero
    # row-Python, zero shuffle
    "compression_ratio": ["MapInPandas", "!BatchEvalPython", "!Exchange"],
    # JSONL shard round trip (round 5): the read-back side must be the
    # NATIVE json scan (zero Python anywhere in the plan)
    "jsonl_roundtrip": ["Scan json", "!BatchEvalPython", "!MapInPandas"],
    # NFC normalization (round 5): ONE Arrow stage (the unicodedata
    # step), cleanup stays codegen — zero row-Python, zero shuffle
    "normalize_text": ["MapInPandas", "!BatchEvalPython", "!Exchange"],
    # training-order shuffle (round 5): ONE hash exchange on the shard
    # key + within-shard sort — never a global range sort, zero Python
    # (formatted explain separates the Exchange node from its
    # "Arguments: hashpartitioning(...)" line — match the argument)
    "train_order": ["Window", "hashpartitioning",
                    "!rangepartitioning", "!BatchEvalPython"],
    # BM25 (round 5): corpus stats ride a 1-row BROADCAST back over the
    # scan (no driver collect); exact top-k; zero Python, no corpus
    # shuffle (tf of query terms = map-side array filters)
    "bm25_topk": ["TakeOrderedAndProject",
                  "BroadcastExchange|BroadcastNestedLoopJoin",
                  "!CartesianProduct", "!BatchEvalPython", "!MapInPandas"],
    # hybrid RRF (round 5): each leg ends in its own top-k; the fusion
    # join/window only ever see 2*LEG_N rows; zero Python anywhere
    "hybrid_rrf": ["TakeOrderedAndProject", "Window",
                   "!CartesianProduct", "!BatchEvalPython",
                   "!MapInPandas"],
    # mojibake repair (round 5): ENTIRELY codegen (translate + regex +
    # charset decode) — zero Python, no shuffle beyond the union
    "mojibake_repair": ["!BatchEvalPython", "!MapInPandas",
                        "!CartesianProduct"],
    # inverted-index BM25 (round 5): postings build = Generate (explode)
    # + HashAggregate; df/stats ride BROADCASTS into the probe; exact
    # top-k; zero Python
    "bm25_indexed_topk": ["Generate", "HashAggregate",
                          "BroadcastHashJoin", "TakeOrderedAndProject",
                          "!BatchEvalPython", "!CartesianProduct"],
    # canonical-survivor selection (round 5): quality leg is codegen, the
    # survivor pick is one per-cluster window; never a cartesian
    "dedup_keep_best": ["Window", "!CartesianProduct",
                        "!BatchEvalPython", "!MapInPandas"],
    # WARC revisit round trip (round 5): Arrow record explode on the read
    # side, digest-keyed resolve join — never cartesian, no row-Python
    "warc_revisit_roundtrip": ["MapInPandas", "!BatchEvalPython",
                               "!CartesianProduct"],
    # corpus datasheet (round 5): dup flag joins a BROADCAST of the
    # >1-hash groups; partial+final rollup; zero Python
    "corpus_datacard": ["HashAggregate", "BroadcastHashJoin",
                        "!BatchEvalPython", "!MapInPandas",
                        "!CartesianProduct"],
    # phrase search (round 5): positional postings (Generate + agg),
    # per-term legs co-join on doc_id, array-intersect chain in codegen
    "phrase_search": ["Generate", "HashAggregate|ObjectHashAggregate",
                      "TakeOrderedAndProject", "!BatchEvalPython",
                      "!MapInPandas", "!CartesianProduct"],
    # snippets (round 5): the k-row hit set BROADCASTS onto documents
    # (J1 lookup); snippet arithmetic is codegen
    "search_snippets": ["BroadcastHashJoin", "!BatchEvalPython",
                        "!MapInPandas", "!CartesianProduct"],
    # batched retrieval (round 5): Q-row broadcast crosses the corpus
    # map-side (BNLJ is the 1-barrier broadcast cross, NOT a shuffled
    # cartesian); per-query top-k is one WindowGroupLimit
    "batch_cosine_topk": ["BroadcastNestedLoopJoin|BroadcastExchange",
                          "WindowGroupLimit", "!CartesianProduct",
                          "!BatchEvalPython", "!MapInPandas"],
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_LAMBDA = "lambdafunction("
_KERNEL = re.compile(r"\b(?:%s)\(" % "|".join(map(re.escape, KERNELS)))
# split(x, '') prints its empty pattern as nothing between the commas
_PER_CHAR = re.compile(r"\bsplit\([^()]*, , -1\)|\bascii\(")


def _close(expr: str, i: int) -> int:
    """The index past the ")" that closes the "(" at expr[i]."""
    depth = 0
    while i < len(expr):
        depth += (expr[i] == "(") - (expr[i] == ")")
        i += 1
        if depth == 0:
            break
    return i


def _kernel_calls(expr: str) -> list[str]:
    """Each hash kernel call in a plan node's string, with its arguments."""
    return [expr[m.start():_close(expr, m.end() - 1)]
            for m in _KERNEL.finditer(expr)]


def _lambda_calls(expr: str) -> list[str]:
    """The higher-order calls (`transform(arr, lambdafunction(...))`,
    `aggregate(...)`, ...) in a plan node's string, each with its array
    arguments — two copies are the same computation only if their inputs
    match too. Expression ids are kept: an inlined copy shares them."""
    spans = set()
    start = expr.find(_LAMBDA)
    while start != -1:
        depth, i = 0, start - 1
        while i >= 0:  # back to the "(" that opens the enclosing call
            depth += (expr[i] == ")") - (expr[i] == "(")
            if depth < 0:
                break
            i -= 1
        j = i
        while j > 0 and (expr[j - 1].isalnum() or expr[j - 1] == "_"):
            j -= 1
        spans.add((j, _close(expr, i)))
        start = expr.find(_LAMBDA, start + 1)
    return [expr[a:b] for a, b in spans]


def _subplans(node) -> list:
    """A plan node's children, and the plan a cached relation or an
    adaptive plan holds outside them."""
    children = node.children()
    out = [children.apply(i) for i in range(children.size())]
    if node.nodeName() == "InMemoryRelation":
        out.append(node.cacheBuilder().cachedPlan())
    elif node.nodeName() == "AdaptiveSparkPlan":
        out.append(node.inputPlan())
    return out


def repeated_lambdas(df) -> list[tuple[str, int, str]]:
    """(operator, copies, call) for every operator of `df`'s optimized plan
    (cached plans included) whose expressions hold the same higher-order
    call more than once, or a kernel call that the operator or one above
    it already holds (copies counts them all); a repeat nested inside a
    larger repeated call is not listed on its own."""
    hits = []

    def walk(node, kernel_above: Counter) -> None:
        expr = node.simpleString(1 << 20)
        counts = Counter(_lambda_calls(expr))
        repeated = [call for call, n in counts.items() if n > 1]
        hits.extend(
            (node.nodeName(), counts[call], call) for call in repeated
            if not any(call != other and call in other for other in repeated)
        )
        kernel = kernel_above + Counter(_kernel_calls(expr))
        hits.extend((node.nodeName(), n, call) for call, n in kernel.items()
                    if n > 1 and call in expr)
        for sub in _subplans(node):
            walk(sub, kernel)

    walk(df._jdf.queryExecution().optimizedPlan(), Counter())
    return hits


def per_char_lambdas(df) -> list[str]:
    """The operators of `df`'s optimized plan (cached plans included)
    whose higher-order calls split a string into characters or take a
    character's code (`split(x, '')`, `ascii(`): a text hash interpreted
    per character instead of running in a kernel."""
    hits = []

    def walk(node) -> None:
        if any(_PER_CHAR.search(call)
               for call in _lambda_calls(node.simpleString(1 << 20))):
            hits.append(node.nodeName())
        for sub in _subplans(node):
            walk(sub)

    walk(df._jdf.queryExecution().optimizedPlan())
    return hits


def composed_frames(query, spark, sf_dir: str) -> list:
    """`query`'s frame, then every frame it passed to
    partitioning.materialize while composing: below a lazy local
    checkpoint the optimized plan holds only an RDD."""
    from no_ocr_spark.plans import partitioning

    real, frames = partitioning.materialize, []

    def recording(df):
        frames.append(df)
        return real(df)

    users = [m for n, m in list(sys.modules.items())
             if n.startswith("no_ocr_spark")
             and getattr(m, "materialize", None) is real]
    for m in users:
        m.materialize = recording
    try:
        return [query(spark, sf_dir)] + frames
    finally:
        for m in users:
            m.materialize = real


def lambda_report(rows: list[tuple], n_queries: int) -> list[str]:
    """plans.md section for (query, operator, copies, subtree) rows."""
    out = [f"\n## Repeated lambda subtrees ({n_queries} registered queries)\n\n",
           "Operators of the optimized plan holding the same higher-order "
           "call (a `lambdafunction` with its inputs) more than once; each "
           "copy is evaluated again per row: "
           f"{len(rows)} hits in {len({r[0] for r in rows})} queries.\n"]
    if rows:
        out.append("\n| query | operator | copies | subtree |\n|---|---|---|---|\n")
        out += [f"| {q} | {op} | {n} | `{lam[:100]}{'...' if len(lam) > 100 else ''}` |\n"
                for q, op, n, lam in rows]
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from no_ocr_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app="explain_audit", master="local[4]",
                      shuffle_partitions=4)
    qmap = {**entrymod.queries(), **entrymod.extra_queries()}
    out = ["# Physical-plan audit (explain formatted)\n"]
    failures = []
    for name, patterns in CHECKS.items():
        plan = plan_of(qmap[name](spark, sf_dir))
        out.append(f"\n## {name}\n")
        for pat in patterns:
            if pat.startswith("!"):
                ok = re.search(pat[1:], plan) is None
                out.append(f"- absent `{pat[1:]}`: {'OK' if ok else 'PRESENT'}\n")
            else:
                ok = re.search(pat, plan) is not None
                out.append(f"- `{pat}`: {'OK' if ok else 'MISSING'}\n")
            if not ok:
                failures.append((name, pat))
        out.append("\n```\n" + plan[:4000] + "\n```\n")
    lambda_hits, per_char = [], []
    for name in sorted(qmap):
        frames = composed_frames(qmap[name], spark, sf_dir)
        lambda_hits += [(name, *hit) for df in frames
                        for hit in repeated_lambdas(df)]
        per_char += [f"{name} ({op})" for df in frames
                     for op in per_char_lambdas(df)]
    out += lambda_report(lambda_hits, len(qmap))
    out.append(f"\nOperators hashing per character in a lambda: "
               f"{', '.join(per_char) or 'none'}.\n")
    with open(os.path.join(REPO, "BENCH", "plans.md"), "w") as f:
        f.writelines(out)
    print(f"audited {len(CHECKS)} plans; {len(failures)} missing markers; "
          f"{len(lambda_hits)} repeated lambda subtrees; "
          f"{len(per_char)} per-character hashes")
    for name, pat in failures:
        print(f"  MISSING {name}: {pat}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
