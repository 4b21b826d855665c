"""The shared iterative-kernel scaffold: ``session.iterative_kernel``
sets the kernel conf policy and restores the session's values on
return and on error; kernels release their setup caches on early
returns."""

from __future__ import annotations

import pytest

from citation_graph_spark.graph import label_propagation, pagerank
from citation_graph_spark.session import iterative_kernel
from tests.conftest import edges_df

_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _conf(spark):
    return {k: spark.conf.get(k) for k in _KEYS}


def _persisted(spark):
    """Ids of the RDDs cached right now. Compared as sets: the context
    cleaner may release earlier tests' caches at any moment, so a bare
    count can drop during a call and hide (or fake) a leak."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_decorator_takes_session_from_first_dataframe_argument(spark):
    seen = {}

    @iterative_kernel
    def kernel(k: int, edges):
        seen.update(_conf(edges.sparkSession))
        raise RuntimeError("boom")

    before = _conf(spark)
    with pytest.raises(RuntimeError, match="boom"):
        kernel(1, edges=edges_df(spark, [(0, 1)]))
    assert seen["spark.sql.adaptive.enabled"] == "false"
    assert _conf(spark) == before


def test_kernel_restores_session_conf_after_return(spark):
    before = _conf(spark)
    assert before["spark.sql.adaptive.enabled"] == "true"
    out = label_propagation(edges_df(spark, [(0, 1), (1, 2), (3, 4)]))
    assert out.count() == 5
    assert _conf(spark) == before


def test_kernel_restores_session_conf_after_raise(spark):
    before, cached = _conf(spark), _persisted(spark)
    with pytest.raises(Exception, match="integral"):
        label_propagation(edges_df(spark, [(0, 1, 0.5)]), weighted=True)
    assert _conf(spark) == before
    # pin_edges releases its raw cache when the sizing count raises
    assert _persisted(spark) <= cached


def test_pagerank_empty_vertex_set_releases_caches(spark):
    before = _persisted(spark)
    out = pagerank(edges_df(spark, []))
    assert out.count() == 0
    assert _persisted(spark) <= before
