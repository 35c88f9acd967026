import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pcgraph import fixtures
from pcgraph.api import PCGraph
from pcgraph.partition import kernel_block
from pcgraph.sources import read_edge_list, write_edge_list


def test_pcgraph_facade_library_algos(spark):
    vertices, edges = fixtures.tiny_example_graph()
    g = PCGraph(
        spark,
        fixtures.to_spark_edges(spark, edges),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    cc, _ = g.connected_components()
    assert {r["id"]: r["component"] for r in cc.collect()} == fixtures.TINY_EXPECTED_CC
    assert g.triangle_count() == 1


def test_custom_iteration_max_label(spark):
    """User-defined algorithm through the public facade: max-label
    propagation (the mirror image of CC) — proves the extension surface
    works like the reference's PartitionProcessFunction/VertexUpdateFunction."""
    from pcgraph.algos.cc import symmetrize

    vertices, edges = fixtures.tiny_example_graph()

    def max_kernel(key, fpdf, bpdf):
        nodes, esrc, edst, _, pos, vals = kernel_block(fpdf, bpdf, np.int64)
        val = np.full(len(nodes), np.iinfo(np.int64).min, dtype=np.int64)
        np.maximum.at(val, pos, vals)
        init = val.copy()
        while True:
            prev = val.copy()
            np.maximum.at(val, edst, val[esrc])
            if np.array_equal(prev, val):
                break
        send = val > init
        return pd.DataFrame({"dst": nodes[send], "msg": val[send]})

    g = PCGraph(
        spark,
        symmetrize(fixtures.to_spark_edges(spark, edges)),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    result, history = g.run_partition_centric_iteration(
        kernel=max_kernel,
        msg_schema="dst long, msg long",
        initial_value=F.col("id"),
        fold="max",
    )
    got = {r["id"]: r["value"] for r in result.collect()}
    # components by MAX id: {1,2,3,4}->4, {5,6,7}->7, singletons keep own id
    assert got == {1: 4, 2: 4, 3: 4, 4: 4, 5: 7, 6: 7, 7: 7, 8: 8, 9: 9, 10: 10}
    assert history[-1]["active"] == 0


def test_konect_roundtrip(spark, tmp_path):
    pdf = fixtures.odd_even_graph(n=60)
    edges = fixtures.to_spark_edges(spark, pdf)
    path = str(tmp_path / "konect")
    write_edge_list(edges, path)
    back = read_edge_list(spark, path)
    a = {(r["src"], r["dst"]) for r in edges.collect()}
    b = {(r["src"], r["dst"]) for r in back.collect()}
    assert a == b


def test_konect_comments_and_weights(spark, tmp_path):
    p = tmp_path / "g.txt"
    p.write_text("% KONECT header\n# snap comment\n1 2 3.5\n2 3\n\n3 1 0.5\n")
    e = read_edge_list(spark, str(p), weighted=True)
    rows = {(r["src"], r["dst"]): r["weight"] for r in e.collect()}
    assert rows == {(1, 2): 3.5, (2, 3): 1.0, (3, 1): 0.5}
