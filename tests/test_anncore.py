"""The shared ANN ranking core (operators/anncore.py): the top-k step
keeps exactly TOP_K rows per query and breaks score ties toward the
smaller neighbor_id in both score directions; recall@k keeps a row for
a query whose approximate list is empty."""

from __future__ import annotations

from algorithmproject_spark_spark.operators.anncore import TOP_K, recall_at_k, topk


def _scored(spark):
    # query 0: TOP_K + 2 candidates all tied, listed largest id first;
    # query 1: a tie that straddles the TOP_K boundary in both directions
    rows = [(0, nb, 7) for nb in range(TOP_K + 2, 0, -1)]
    rows += [(1, 10, 1), (1, 14, 9), (1, 13, 5), (1, 12, 5), (1, 11, 5)]
    return spark.createDataFrame(rows, "q_id long, neighbor_id long, score long")


def _ranked(df):
    out: dict[int, list[tuple[int, int]]] = {}
    for r in df.collect():
        out.setdefault(r.q_id, []).append((r.rk, r.neighbor_id))
    return {q: [nb for _, nb in sorted(v)] for q, v in out.items()}


def test_topk_ascending_keeps_k_and_breaks_ties_by_smaller_id(spark):
    got = _ranked(topk(_scored(spark), "score"))
    assert got == {0: [1, 2, 3], 1: [10, 11, 12]}
    assert all(len(v) == TOP_K for v in got.values())


def test_topk_descending_keeps_k_and_breaks_ties_by_smaller_id(spark):
    got = _ranked(topk(_scored(spark), "score", descending=True))
    assert got == {0: [1, 2, 3], 1: [14, 11, 12]}
    assert all(len(v) == TOP_K for v in got.values())


def test_recall_keeps_a_row_for_an_empty_approximate_list(spark):
    exact = spark.createDataFrame(
        [(q, nb) for q in (0, 1) for nb in range(TOP_K)],
        "q_id long, neighbor_id long",
    )
    # query 0 finds two of its exact neighbors plus one miss; query 1
    # returns nothing at all
    approx = spark.createDataFrame(
        [(0, 0), (0, 1), (0, 99)], "q_id long, neighbor_id long"
    )
    got = {
        (r.q_id, r.n_hits, r.k)
        for r in recall_at_k(approx, exact, "a").collect()
    }
    assert got == {(0, 2, TOP_K), (1, 0, TOP_K)}
