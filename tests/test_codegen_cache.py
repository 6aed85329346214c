"""The session's generated-code class cache holds a recurring workload's
working set: a second pass over the same plan shapes compiles nothing.

Spark's default cache (100 classes, an LRU over 4 hash segments) is smaller
than the headline queries' working set, so a cyclic second pass evicted and
recompiled most of it; ``session.get_spark`` sizes the cache instead."""

from __future__ import annotations

from bench import HEADLINE
from bridge_analytics_template_spark.queries import QUERIES
from tools.ab import codegen_compiles

#: Spark's default ``spark.sql.codegen.cache.maxEntries``. The headline
#: queries through the noop sink compile 263 distinct classes at sf0.001 in
#: a local[8] session that has run none of them; the first pass must at
#: least overflow the default bound, or eviction could not show in the
#: second (under the default, the second pass compiled 264).
_DEFAULT_BOUND = 100


def _noop_pass(spark, sf_dir) -> int:
    """Classes compiled while every headline query runs once through the
    noop sink."""
    before = codegen_compiles(spark)
    for name in HEADLINE:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    return codegen_compiles(spark) - before


def test_second_pass_compiles_nothing(spark, sf_dir):
    first = _noop_pass(spark, sf_dir)
    assert first > _DEFAULT_BOUND
    assert _noop_pass(spark, sf_dir) == 0
