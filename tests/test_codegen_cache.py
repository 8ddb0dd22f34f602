"""Generated-code cache tripwire: a repeated curation pass must reuse every
class the first pass compiled.

Spark caches generated classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries. One pass of the six
curation ops cycles through more distinct classes than the default 100,
so with the default every class of every pass misses and is compiled
again (Janino, then the JIT). The session default sizes the cache above
that working set; this test fails if it shrinks below it again or an op
starts generating a fresh class per call.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordb_explorations_spark.operators import (  # noqa: E402
    dedup, sampling, textops)
from vectordb_explorations_spark.sources.catalog import load_table  # noqa: E402

CURATION_OPS = [dedup.minhash_lsh_pairs, dedup.exact_dedup,
                dedup.substring_dup_coverage, textops.text_stats,
                textops.gopher_quality_signals, sampling.dsir_select]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_curation_pass_compiles_nothing(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)

    def one_pass():
        for op in CURATION_OPS:
            op(docs).collect()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before == 0
