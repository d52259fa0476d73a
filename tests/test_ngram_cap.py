"""Posting-cap (stop-shingle) contract for the production dedup path.

Pins the two halves of the ``MAX_SHINGLE_DF`` design:
1. cap-on == cap-off on organic data (no fixture shingle is near the cap),
   so the oracle-checked uncapped op and the capped production path agree;
2. a genuinely hot (boilerplate) shingle IS detected and dropped, and the
   drop bounds pair fan-out;
3. the capped plan applies the stop list as a broadcast anti-join (no
   reshuffle of the shingle table);
4. the stop list's doc sample does not depend on the partition layout.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from dataengineeringutils_spark import tables
from dataengineeringutils_spark.operators.dedup import (
    HOT_SAMPLE_FRACTION,
    _shingles_of,
    hot_shingle_stoplist,
    ngram_jaccard_pairs,
    sample_docs,
    shingle_rows,
)


def _pairs(df):
    return sorted((r.doc_a, r.doc_b) for r in df.collect())


def test_cap_is_noop_on_fixture(spark, sf_dir):
    sh = shingle_rows(spark, sf_dir)
    stop = hot_shingle_stoplist(spark, sf_dir)
    assert stop.count() == 0  # fixture max df ~25 << 128
    capped = ngram_jaccard_pairs(sh, stop_shingles=stop)
    uncapped = ngram_jaccard_pairs(sh)
    assert _pairs(capped) == _pairs(uncapped)


def test_hot_shingle_detected_and_dropped(spark):
    # 60 docs share ONE boilerplate phrase but are otherwise unrelated:
    # uncapped blocking emits 60*59/2 candidate pairs from that single
    # shingle; with the stop list the pair set is empty.
    boiler = "subscribe to our newsletter"
    docs = [(i, f"{boiler} unique{i} text{i} filler{i} tail{i}") for i in range(60)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    sh = _shingles_of(d)
    stop = (
        _shingles_of(d.sample(fraction=1.0, seed=42))
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 50)
        .select("s")
    )
    assert stop.count() >= 1
    capped = ngram_jaccard_pairs(sh, stop_shingles=stop)
    assert capped.count() == 0
    # uncapped still generates candidates via the hot shingle (all below
    # the 0.5 jaccard threshold here, but the JOIN fan-out is the point):
    uncapped_candidates = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )
    assert uncapped_candidates >= 60 * 59 / 2


def test_capped_plan_is_broadcast_anti_join(spark, sf_dir):
    sh = shingle_rows(spark, sf_dir)
    stop = hot_shingle_stoplist(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ngram_jaccard_pairs(sh, stop_shingles=stop).explain("formatted")
    plan = buf.getvalue()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_stoplist_sample_is_layout_independent(spark, sf_dir, monkeypatch):
    def sampled(docs):
        return sorted(
            r.doc_id
            for r in sample_docs(docs, HOT_SAMPLE_FRACTION)
            .select("doc_id")
            .collect()
        )

    raw = tables.table(spark, sf_dir, "documents")
    ids = sampled(raw)
    n_docs = raw.count()
    # a real 1/8 sample, not all or nothing
    assert 0.05 * n_docs < len(ids) < 0.2 * n_docs, (len(ids), n_docs)
    assert sampled(tables.spread(spark, sf_dir, "documents")) == ids
    monkeypatch.setattr(tables, "_table_bytes", lambda sf_dir, name: 1 << 40)
    assert sampled(tables.spread(spark, sf_dir, "documents")) == ids
    assert sampled(raw.repartition(2)) == ids
    assert sampled(raw.repartition(4)) == ids
