"""Skewed-graph stress harness for the whole-graph analytics family
(VERDICT r4 item 3): measure triangles / k-core / PageRank on the
1995 co-purchase graph vs a deliberately skewed variant — the basket
cap dropped AND a planted "promotional mega-bundle" containing the
500 most co-purchased parts (a realistic hub event: one order whose
basket cliques the catalog's bestsellers together, 124,750 extra
edges, hub degrees ~500+).

Run:  python scripts/skew_stress.py [sf_dir]
Prints one timing line per (graph, operator, strategy); the numbers
land in SCALE.md's "Skew stress, measured" table.

This is a measurement tool, not a declared query: the bounded
500x500 clique cross-join below is the planted fixture, and the
degenerate-bucket guards this engine applies to REAL skew
(max_basket, max_center_degree, LSH bucket caps) are exactly what it
switches off to create the stress.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
    kcore,
    pagerank_fixed,
    pagerank_prepare,
    triangle_counts,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import get_spark
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.graphs import (
    copurchase_edges,
)

SHIP_RANGE = ("1995-01-01", "1996-01-01")
HUB_SIZE = 500


def timed(label, fn):
    t0 = time.time()
    n = fn()
    dt = time.time() - t0
    print(f"{label}: {n} rows in {dt:.2f}s", flush=True)
    return dt


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("skew-stress")

    base = copurchase_edges(spark, sf_dir, ship_range=SHIP_RANGE).persist()
    print(f"base edges: {base.count()}", flush=True)

    # Skewed variant: no basket cap + the planted mega-bundle clique
    # over the 500 highest-degree parts.
    uncapped = copurchase_edges(spark, sf_dir, ship_range=SHIP_RANGE, max_basket=None)
    deg = (
        base.select(F.col("src").alias("v"))
        .unionAll(base.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    top = deg.orderBy(F.desc("d"), "v").limit(HUB_SIZE).select("v")
    a = top.select(F.col("v").alias("src"))
    b = top.select(F.col("v").alias("dst"))
    clique = a.crossJoin(b).where(F.col("src") < F.col("dst"))
    skewed = uncapped.unionByName(clique).distinct().persist()
    print(f"skewed edges: {skewed.count()}", flush=True)
    hub_deg = (
        skewed.select(F.col("src").alias("v"))
        .unionAll(skewed.select(F.col("dst").alias("v")))
        .groupBy("v").agg(F.count("*").alias("d")).agg(F.max("d")).collect()[0][0]
    )
    print(f"max degree: skewed {hub_deg}", flush=True)

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        ktruss,
        label_propagation,
        max_spanning_forest,
        maximal_independent_set,
    )

    for name, g in (("base", base), ("skewed", skewed)):
        timed(f"triangles/adjacency {name}", lambda g=g: triangle_counts(g, strategy="adjacency").count())
        timed(f"triangles/wedge     {name}", lambda g=g: triangle_counts(g, strategy="wedge").count())
        timed(f"kcore k=2           {name}", lambda g=g: kcore(g, k=2, loop_shuffle_partitions=4, probe_every=2).count())
        sym = g.unionAll(g.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        timed(f"pagerank 5 iters    {name}", lambda sym=sym: pagerank_fixed(prepared=pagerank_prepare(sym), iters=5).count())
        # Round-6 additions: the hub clique is exactly a truss/MIS/LPA
        # stressor (the 500-clique's edges each close ~498 triangles).
        timed(f"ktruss k=4          {name}", lambda g=g: ktruss(g, k=4, max_iters=12, loop_shuffle_partitions=4).count())
        timed(f"mis                 {name}", lambda g=g: maximal_independent_set(g, loop_shuffle_partitions=4).count())
        timed(f"lpa 4 rounds        {name}", lambda g=g: label_propagation(g, rounds=4, loop_shuffle_partitions=4).count())
        wg = g.groupBy("src", "dst").agg(F.count("*").cast("long").alias("cnt"))
        timed(f"msf                 {name}", lambda wg=wg: max_spanning_forest(wg, loop_shuffle_partitions=4).count())

    # Round-6 third session: the kNN-graph stressor — sign-LSH
    # signatures are scale-invariant, so 600 positively-scaled copies
    # of one vector collide into ONE mega bucket in EVERY table (the
    # boilerplate/duplicate-cluster event the bucket cap exists for).
    # cap 1000: the 600-member bucket survives and pays ~180k pairs;
    # cap 500: it is dropped and the hub is absorbed.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        lsh_knn_graph,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    q0 = emb.where(F.col("vec_id") == 0).first()["embedding"]
    copies = spark.range(600).select(
        (F.col("id") + 2_000_000).alias("vec_id"),
        F.array(*[F.lit(float(x) * 1.5) for x in q0])
        .cast("array<double>")
        .alias("embedding"),
    )
    emb_skewed = emb.unionByName(copies).persist()
    emb_skewed.count()
    timed("knn_graph base", lambda: lsh_knn_graph(emb, 3).count())
    timed(
        "knn_graph dup-cluster cap=1000 (mega bucket survives)",
        lambda: lsh_knn_graph(emb_skewed, 3).count(),
    )
    timed(
        "knn_graph dup-cluster cap=500  (mega bucket dropped)",
        lambda: lsh_knn_graph(emb_skewed, 3, max_bucket_size=500).count(),
    )

    # Equality of the two triangle strategies on the skewed graph —
    # the degradation target must COUNT the same, not just run.
    adj = triangle_counts(skewed, strategy="adjacency")
    wed = triangle_counts(skewed, strategy="wedge")
    diff = adj.join(wed, "vertex", "full").where(
        F.coalesce(adj["triangles"], F.lit(-1)) != F.coalesce(wed["triangles"], F.lit(-2))
    )
    n_diff = diff.count()
    print(f"strategy disagreement rows: {n_diff}", flush=True)
    assert n_diff == 0


if __name__ == "__main__":
    main()
