"""Each per-document corpus op reads its corpus in exactly one Spark
stage per call.

A corpus stage is a stage that reads the documents' parquet files. A
second one re-tokenizes and re-hashes the whole corpus, which at scale is
the op's whole cost. Two plan shapes used to cause it: DSIR's fit and
score read one per-(doc, bucket) frame through two subtrees that differed
below its exchange, and a global orderBy's sampling job re-ran per-row
kernels read straight off the scan. Counted from Spark's status store
(``inputBytes`` per stage).

unigram_logprob is left out on purpose: it scores each document's tokens
against the corpus-wide vocabulary, so one corpus stage would have to
shuffle the whole token stream, which costs more than a second tokenize.
doc_chunks is left out for the same reason: its kernel is a codegen
split, explode and md5, and an exchange ahead of its sort would shuffle
the fanned-out chunk stream, twice the bytes its sort alone writes, to
save re-running that cheap kernel.
"""

import pytest

from vectordb_explorations_spark.operators import (
    multimodal, sampling, textops)
from vectordb_explorations_spark.sources import load_table
from spark_status import input_stages

OPS = {
    "text_stats": textops.text_stats,
    "gopher_quality_signals": textops.gopher_quality_signals,
    "doc_repetition_stats": textops.doc_repetition_stats,
    "lang_id": textops.lang_id,
    "doc_fingerprints": textops.doc_fingerprints,
    "clean_text": textops.clean_text,
    "quality_filter": textops.quality_filter,
    "mask_pii": textops.mask_pii,
    "token_counts": textops.token_counts,
    "dsir_select": sampling.dsir_select,
    "source_kl_divergence": sampling.source_kl_divergence,
    "gif_frame_sample": multimodal.gif_frame_sample,
}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir)


@pytest.mark.parametrize("op", sorted(OPS))
def test_one_corpus_stage_per_call(spark, docs, op):
    rows, n = input_stages(spark, lambda: OPS[op](docs).collect())
    assert rows
    assert n == 1, (op, n)


def test_dsir_fit_and_score_share_one_exchange(docs):
    df = sampling.dsir_select(docs)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
