import numpy as np
import pytest

from ligra_spark.fixtures import sample_graph_edges
from ligra_spark.rmat import make_symmetric


@pytest.fixture(scope="session")
def spark():
    from ligra_spark.session import get_spark

    s = get_spark("ligra_spark_tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_edges():
    """Directed tiny sample graph (n=128, m=708 rMat, seed 5)."""
    return sample_graph_edges()


@pytest.fixture(scope="session")
def tiny_sym(tiny_edges):
    n, src, dst = tiny_edges
    s, d = make_symmetric(src, dst)
    return n, s, d


def edges_df(spark, src, dst, weight=None):
    import pandas as pd

    data = {"src": src.astype("int64"), "dst": dst.astype("int64")}
    if weight is not None:
        data["weight"] = np.asarray(weight, dtype="int64")
    return spark.createDataFrame(pd.DataFrame(data))


@pytest.fixture(scope="session")
def tiny_graph(spark, tiny_edges):
    from ligra_spark.graph import LinkGraph

    n, src, dst = tiny_edges
    return LinkGraph.from_edges(spark, edges_df(spark, src, dst), n=n).materialize()


@pytest.fixture(scope="session")
def tiny_graph_sym(spark, tiny_sym):
    from ligra_spark.graph import LinkGraph

    n, src, dst = tiny_sym
    return LinkGraph.from_edges(
        spark, edges_df(spark, src, dst), n=n, symmetric=True
    ).materialize()
