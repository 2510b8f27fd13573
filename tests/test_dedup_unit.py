"""Dedup operator unit tests beyond the oracle gate.

The hot-bucket fixture is the scale regression test for the LSH
candidate generator: a single duplicated boilerplate template (the
common case at corpus scale) must produce O(m) candidate edges, not
O(m²) pairs — the star-edge emission guarantees it.
"""

from __future__ import annotations

import pytest

from libpdf_spark.operators import dedup as D

N_DUP = 1000  # one viral template duplicated 1000× → ONE hot LSH bucket


@pytest.fixture(scope="module")
def hot_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("hotbucket")
    template = (
        "all rights reserved this boilerplate footer appears on every "
        "page of the crawled site and is word for word identical"
    )
    rows = [(f"dup-{i:04d}", template) for i in range(N_DUP)]
    rows += [
        (f"uniq-{i}", f"genuinely distinct document number {i} "
                      f"with its own words alpha{i} beta{i} gamma{i} "
                      f"delta{i} epsilon{i} zeta{i}")
        for i in range(5)
    ]
    spark.createDataFrame(rows, "doc_id string, text string").write.mode(
        "overwrite"
    ).parquet(str(base / "documents.parquet"))
    return str(base)


def test_hot_bucket_star_edges_linear(spark, hot_dir):
    """1,000 identical docs share every band bucket; the candidate
    output must be the 999 star edges (min-doc → member), NOT the
    ~499,500 all-pairs — O(m) vs O(m²)."""
    edges = D.QUERIES["dedup_minhash_lsh"](spark, hot_dir).toPandas()
    dup = edges[edges.doc_b.str.startswith("dup-")]
    assert len(dup) == N_DUP - 1
    assert (dup.doc_a == "dup-0000").all()
    # nothing links the unique docs to the template
    assert not (edges.doc_a.str.startswith("uniq-") & edges.doc_b.str.startswith("dup-")).any()
    assert not (edges.doc_a.str.startswith("dup-") & edges.doc_b.str.startswith("uniq-")).any()


def test_hot_bucket_clusters_identical_components(spark, hot_dir):
    """Connected components over the star edges: one cluster of all
    1,000 duplicates, survivor = min doc_id."""
    clusters = D.QUERIES["dedup_clusters"](spark, hot_dir).toPandas()
    dup = clusters[clusters.doc_id.str.startswith("dup-")]
    assert len(dup) == N_DUP
    assert (dup.cluster_id == "dup-0000").all()
    assert (dup.cluster_size == N_DUP).all()
    assert dup[dup.is_survivor].doc_id.tolist() == ["dup-0000"]


def _cc_propagate(edges, F, max_rounds: int = 64):
    """Connected components by iterative min-label propagation.
    ``edges`` is directed BOTH ways (src, dst). Each round is one
    equi-join on dst + one map-side-combinable min-agg; rounds =
    graph diameter. Returns ``(labels_df(doc_id, label), rounds)`` —
    the driver only ever sees a convergence scalar per round. The
    reference for ``dedup._cc_alternating_star``: same interface, same
    components, rounds = diameter."""
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        neigh = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("dlabel")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nlabel"))
        )
        # localCheckpoint truncates the logical plan each round —
        # without it the nested-join lineage grows with the round count
        # and planning itself OOMs on long-diameter graphs
        new = (
            labels.join(neigh, labels.doc_id == neigh.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("a")
            .join(labels.alias("b"), "doc_id")
            .filter(F.col("a.label") != F.col("b.label"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            return labels, rounds
    raise RuntimeError(f"connected components did not converge in {max_rounds} rounds")


def test_chain_graph_star_fewer_rounds_same_components(spark):
    """VERDICT r3 ask #7: on a CHAIN graph (the worst case for
    min-label propagation — rounds = diameter) alternating
    large/small-star (Kiveris et al.) converges in a fraction of the
    rounds with IDENTICAL components."""
    from pyspark.sql import functions as F

    n = 17  # chain d00-d01-...-d16, diameter 16
    pairs = [(f"d{i:02d}", f"d{i+1:02d}") for i in range(n - 1)]
    pdf = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    edges = pdf.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pdf.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))

    lab_p, rounds_p = _cc_propagate(edges, F)
    lab_s, rounds_s = D._cc_alternating_star(edges, F)
    got_p = {r.doc_id: r.label for r in lab_p.collect()}
    got_s = {r.doc_id: r.label for r in lab_s.collect()}
    assert got_p == got_s == {f"d{i:02d}": "d00" for i in range(n)}
    # propagation needs ~diameter rounds; star collapses the chain fast
    assert rounds_p >= n - 2
    assert rounds_s < rounds_p / 2, (rounds_s, rounds_p)


def test_star_cc_multiple_components(spark):
    """Alternating star on a mixed graph: two components + an isolated
    self-contained pair; labels equal each component's min."""
    from pyspark.sql import functions as F

    pairs = [("b", "a"), ("c", "b"), ("x", "z"), ("y", "x"), ("p", "q")]
    pdf = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    edges = pdf.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pdf.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    lab, _ = D._cc_alternating_star(edges, F)
    got = {r.doc_id: r.label for r in lab.collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x", "p": "p", "q": "p"}
