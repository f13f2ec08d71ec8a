"""The vector queries on inputs the fixture tables do not hold — a zero
vector, a table with no query row (vec_id 0) — still match their DuckDB
oracles, and the vector expressions have one home: no operator module
imports another operator module's private helper."""

from __future__ import annotations

import ast
import os
import pathlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from test_oracle_parity import _compare, _load_contract

VECTOR_QUERIES = ["cosine_topk", "maxsim_topk", "near_dup_cosine",
                  "lsh_bucket_pairs", "ann_ivf_topk", "ann_ivf_kmeans",
                  "ann_pq_topk", "ann_sq8_topk", "ann_ivf_sq8_topk"]


def _embeddings_dir(tmp_path_factory, sf_dir: str, name: str, edit) -> str:
    """A copy of the fixture's embeddings table, edited row-wise."""
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    rows = [r for r in (edit(r) for r in table.to_pylist()) if r is not None]
    out = tmp_path_factory.mktemp(name)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                   out / "embeddings.parquet")
    return str(out)


def _parity(spark, sf_dir: str, names: list[str]) -> dict[str, int]:
    contract = _load_contract()
    queries = {**contract.queries(), **contract.extra_queries()}
    oracles = {**contract.oracle_sql(), **contract.extra_oracle_sql()}
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_dir}/embeddings.parquet'")
    n_rows = {}
    for name in names:
        got = queries[name](spark, sf_dir).toPandas()
        _compare(name, got, con.execute(oracles[name]).fetchdf())
        n_rows[name] = len(got)
    return n_rows


def test_zero_norm_vectors_match_the_oracles(spark, sf_dir, tmp_path_factory):
    """vec_id 21 is all zeros and vec_id 20 starts with 8 zeros (a
    zero-norm PQ slice): their cosines are NULL in both engines, where
    Spark's ANSI division raised DIVIDE_BY_ZERO."""
    def zero(r):
        if r["vec_id"] == 21:
            r["embedding"] = [0.0] * len(r["embedding"])
        elif r["vec_id"] == 20:
            r["embedding"] = [0.0] * 8 + r["embedding"][8:]
        return r

    zero_dir = _embeddings_dir(tmp_path_factory, sf_dir, "zero", zero)
    n_rows = _parity(spark, zero_dir, VECTOR_QUERIES)
    assert n_rows["cosine_topk"] == 10 and n_rows["ann_pq_topk"] == 10
    assert n_rows["ann_ivf_topk"] == 5 and n_rows["lsh_bucket_pairs"] > 0


def test_no_query_row_gives_empty_results(spark, sf_dir, tmp_path_factory):
    """Without vec_id 0 every query vector is missing: each query returns
    no rows, like its oracle."""
    noq_dir = _embeddings_dir(tmp_path_factory, sf_dir, "noq",
                              lambda r: r if r["vec_id"] != 0 else None)
    names = ["cosine_topk", "ann_ivf_topk", "ann_ivf_kmeans", "ann_pq_topk",
             "ann_sq8_topk", "ann_ivf_sq8_topk"]
    assert _parity(spark, noq_dir, names) == {n: 0 for n in names}


def test_no_operator_imports_a_private_operator_name():
    """Shared expression builders live in functions/ (the vectors in
    textexpr); an operator may import only another operator's public
    names, at module level or inside a function."""
    root = pathlib.Path(__file__).resolve().parents[1] / "no_ocr_spark"
    offenders = []
    for path in sorted((root / "operators").glob("*.py")):
        for n in ast.walk(ast.parse(path.read_text(), path.name)):
            if (isinstance(n, ast.ImportFrom) and n.module
                    and n.module.startswith("no_ocr_spark.operators")):
                offenders += [f"{path.name}:{n.lineno} {a.name}"
                              for a in n.names if a.name.startswith("_")]
    assert offenders == []


def test_vector_builders_are_not_redefined():
    """No operator module defines its own dot/cosine/array-literal/
    quantize/multi-vector/argmax builder next to textexpr's."""
    from no_ocr_spark.functions import textexpr

    builders = {"dot", "cosine", "csim_lit", "array_lit",
                "quantize", "multivec", "maxsim", "argmax_cid",
                "sq8_codes_expr", "sq8_dequant_expr",
                "sq8_dequant_direct_expr"}
    assert builders <= set(vars(textexpr))
    root = pathlib.Path(__file__).resolve().parents[1] / "no_ocr_spark"
    redefined = []
    for path in sorted((root / "operators").glob("*.py")):
        tree = ast.parse(path.read_text(), path.name)
        redefined += [f"{path.name}:{n.name}" for n in tree.body
                      if isinstance(n, ast.FunctionDef)
                      and n.name.lstrip("_") in builders | {
                          "idot", "csim", "arr_lit", "quant",
                          "maxsim_over_nested", "dot_lit", "norm2_col",
                          "norm2_lit"}]
    assert redefined == []
