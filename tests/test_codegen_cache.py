"""Spark's generated-code cache holds the engine's working set.

Spark compiles every generated class with Janino and keeps it in an LRU
cache (``spark.sql.codegen.cache.maxEntries``, 100 classes by default).
One curation round needs about 190 classes, so at Spark's default a
repeated round recompiled them all. ``get_session`` sizes the cache to
the engine's working set, and a repeated round compiles (almost)
nothing.
"""

import importlib.util
import os

from eland_spark.plans.inspect import codegen_stats

_REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
CURATION = ("spearman", "train_classifier", "dsir_select", "label_propagation")


def _queries():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(_REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m.queries()


def test_get_session_sizes_codegen_cache(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == 4096


def test_repeated_curation_pass_compiles_nothing(spark, sf_dir):
    queries = _queries()

    def curation_pass():
        before = codegen_stats(spark)
        for name in CURATION:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_stats(spark)["compiles"] - before["compiles"]

    first = curation_pass()
    second = curation_pass()
    # the first pass may compile what earlier tests left uncached; the
    # second finds every class it needs in the cache (a 100-entry cache
    # recompiles about 188 of them)
    assert second <= 10, (first, second)
