"""Error-path coverage, mirroring the reference's error tests
(SURVEY §5.1: test_timebox_dates.py, test_timebox_data_io.py)."""

from __future__ import annotations

import pytest

from timebox_spark.operators import dedup
from timebox_spark.operators.resample import interval_us, time_bucket
from timebox_spark.table import DateDataError, TimeBoxTable


def test_interval_parse_errors():
    assert interval_us("1 hour") == 3_600_000_000
    assert interval_us("30 minutes") == 1_800_000_000
    assert interval_us("2 days") == 2 * 86_400_000_000
    for bad in ("fortnight", "1 lightyear", "", "hour 1"):
        with pytest.raises(ValueError):
            interval_us(bad)


def test_timeboxtable_requires_ts(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(DateDataError):
        TimeBoxTable(df)


def test_timeboxtable_renames_custom_ts(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2020, 1, 1), 1)], "event_time timestamp, v long"
    )
    t = TimeBoxTable(df, ts_col="event_time")
    assert t.df.columns == ["ts", "v"]


def test_simhash_rejects_unguaranteed_hamming(spark):
    from tests.conftest import SF_SMOKE
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents").limit(10)
    with pytest.raises(ValueError):
        dedup.portable_simhash_pairs(docs, max_hamming=8)


def test_npb_caps_and_bad_dtypes():
    import numpy as np
    import pandas as pd

    from timebox_spark.sources import npb

    idx = pd.date_range("2020-01-01", periods=2, freq="1h")
    with pytest.raises(npb.NpbFormatError):
        npb.encode_timebox(pd.DataFrame({"s": ["a", "b"]}, index=idx))
    too_wide = pd.DataFrame(
        {f"c{i}": np.zeros(2, dtype=np.int8) for i in range(256)}, index=idx
    )
    with pytest.raises(npb.NpbFormatError):
        npb.encode_timebox(too_wide)


def test_word_shingles_semantics(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("the quick brown fox jumps",)], "text string")
    out = df.select(dedup.word_shingles("text", 3).alias("sh")).collect()[0]["sh"]
    assert out == ["the quick brown", "quick brown fox", "brown fox jumps"]
    short = spark.createDataFrame([("just two",)], "text string")
    out2 = short.select(dedup.word_shingles("text", 3).alias("sh")).collect()[0]["sh"]
    assert out2 == ["just two"]


def test_round5_operator_edge_cases(spark):
    """Degenerate inputs the round-5 operators must survive: empty
    corpora, single groups, all-identical values, missing columns."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from timebox_spark.operators import similarity as S
    from timebox_spark.operators import text as T
    from timebox_spark.operators.sampling import mixture_sample

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    # empty corpus: every top-k/score op yields zero rows, no errors
    assert T.classifier_topk(empty).count() == 0
    assert T.perplexity_topk(empty).count() == 0
    assert T.bpe_pair_counts(empty).count() == 0
    assert mixture_sample(empty, group_col="lang").count() == 0

    # single group: mixture keeps everything (rate exactly 1.0)
    one = spark.createDataFrame(
        [(i, "x y", "en") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    assert mixture_sample(one, group_col="lang").count() == 10

    # missing group column fails analysis, not silently
    with pytest.raises(AnalysisException):
        mixture_sample(one, group_col="nope").count()

    # all-identical embeddings: int8 ranking is total and deterministic
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    got = S.portable_int8_topk(emb, q, k=3).collect()
    assert [r["neighbor_id"] for r in got] == [1, 2, 3]  # id tiebreak

    # hard negatives with no opposite-label vectors: zero rows
    lab = spark.createDataFrame(
        [(i, [1.0, 0.0], 7) for i in range(4)],
        "vec_id long, embedding array<float>, label int",
    )
    assert (
        S.portable_hard_negatives(lab, lab.filter(F.col("vec_id") == 0)).count()
        == 0
    )
