"""Property-based tests (SURVEY.md §5.3, hypothesis): scrub
idempotence, codec round-trip for arbitrary images, salting
invariance, langid batch-order stability."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from data_quality_check_spark.kernels import codecs as C
from data_quality_check_spark.kernels.langid import classify
from data_quality_check_spark.kernels.scrub import scrub_series

text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
    max_size=200,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=8))
def test_scrub_idempotent(texts):
    s = pd.Series(texts, dtype="object")
    once = scrub_series(s)["caption_scrubbed"]
    twice = scrub_series(once)["caption_scrubbed"]
    assert list(once) == list(twice)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 64), st.integers(1, 64), st.integers(0, 2**32 - 1))
def test_codec_roundtrip_any_image(w, h, seed):
    pix = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    for fmt in ("raw", "ppm", "png"):
        assert (C.decode(C.encode(pix, fmt), fmt, w, h) == pix).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(text_st, min_size=2, max_size=10), st.randoms())
def test_langid_batch_order_invariance(texts, rnd):
    """Classification of a row must not depend on its batch
    neighbours (scalar-iter UDF correctness condition)."""
    from data_quality_check_spark.kernels.ppl import perplexity

    s = pd.Series(texts, dtype="object")
    base = classify(s)
    base_ppl = perplexity(s)
    idx = list(range(len(texts)))
    rnd.shuffle(idx)
    shuf_s = s.iloc[idx].reset_index(drop=True)
    shuffled = classify(shuf_s)
    shuf_ppl = perplexity(shuf_s)
    for out_pos, src_pos in enumerate(idx):
        assert shuffled["lang"][out_pos] == base["lang"][src_pos]
        assert shuffled["lang_conf"][out_pos] == base["lang_conf"][src_pos]
        assert shuf_ppl[out_pos] == base_ppl[src_pos]


def test_salting_invariance(spark):
    """O-30: two-phase salted aggregation == plain aggregation for any
    salt assignment (SURVEY.md §7 hard part #3)."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.salt import two_phase_agg

    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("bucket"),
        F.col("id").alias("v"),
        F.pmod(F.xxhash64("id"), F.lit(13)).cast("int").alias("salt"),
    )
    salted = two_phase_agg(df, "bucket", {"n": "count(*)", "s": "sum(v)"})
    plain = df.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("v").alias("s"))
    a = {r["bucket"]: (r["n"], r["s"]) for r in salted.collect()}
    b = {r["bucket"]: (r["n"], r["s"]) for r in plain.collect()}
    assert a == b


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain join for inner AND left, on a skewed big
    side (one hot key holds half the rows), with keys unmatched on
    each side, in both salt modes (column-derived and row-id)."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.salt import salted_join

    big = spark.range(20_000).select(
        F.col("id").alias("rid"),
        # key 0 is hot (half the rows); keys 90..99 match nothing
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 3).alias("payload"))
    small = spark.range(90).select(      # keys 0..89; 90..99 unmatched
        F.col("id").alias("k"), F.concat(F.lit("dim_"),
                                         F.col("id")).alias("name"))

    for how in ("inner", "left"):
        plain = big.join(small, "k", how)
        for salt_col in ("rid", None):
            got = salted_join(big, small, "k", salt_factor=8, how=how,
                              salt_col=salt_col)
            a = sorted(map(tuple, got.select(
                "k", "rid", "payload", "name").collect()))
            b = sorted(map(tuple, plain.select(
                "k", "rid", "payload", "name").collect()))
            assert a == b, (how, salt_col)


def test_salted_join_spreads_hot_key(spark):
    """The point of the salt: a hot key's rows carry all salt_factor
    distinct salt values, so the shuffle spreads them over
    salt_factor reducers instead of one."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.salt import salted_join

    big = spark.range(8_000).select(F.lit(0).alias("k"),
                                    F.col("id").alias("rid"))
    small = spark.createDataFrame([(0, "hot")], "k long, name string")
    salted = big.withColumn(
        "__jsalt", F.pmod(F.xxhash64(F.col("rid")), F.lit(8)).cast("int"))
    n_salts = salted.select("__jsalt").distinct().count()
    assert n_salts == 8
    # and the join still returns every big row exactly once
    assert salted_join(big, small, "k", salt_factor=8,
                       salt_col="rid").count() == 8_000


@given(st.integers(0, 2**32 - 1), st.sampled_from([1, 2]))
@settings(max_examples=25, deadline=None)
def test_rawq_roundtrip_properties(seed, version):
    """Lossy round-trip invariants for arbitrary images: shape/dtype
    preserved, reconstruction error bounded by the quantization step,
    deterministic re-encode, and the v1 decoder pair always agrees
    more closely (higher PSNR) than v2's."""
    import numpy as np

    from data_quality_check_spark.kernels import codecs

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
    pix = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    blob = codecs.encode_rawq(pix, version)
    dec = codecs.decode_rawq(blob, w, h)
    step = 4 if version == 1 else 64
    assert dec.shape == pix.shape and dec.dtype == np.uint8
    assert np.abs(dec.astype(int) - pix.astype(int)).max() <= step - 1
    assert codecs.encode_rawq(pix, version) == blob
    p1 = codecs.psnr_db(codecs.decode_rawq(b1 := codecs.encode_rawq(pix, 1), w, h),
                        codecs.decode_rawq_ref(b1, w, h))
    p2 = codecs.psnr_db(codecs.decode_rawq(b2 := codecs.encode_rawq(pix, 2), w, h),
                        codecs.decode_rawq_ref(b2, w, h))
    assert p1 > p2


def test_bucket_expr_pins_with_bucket(spark):
    """The checkpoint's scan-side wave filter and the verdict frame's
    bucket column share operators.salt.bucket_expr: equal for null,
    negative and extreme phash, and equal to pmod(coalesce(phash, 0))."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.salt import bucket_expr, with_bucket

    vals = [None, 0, 1, -1, -64, -65, 63, 64, 2**62, 2**63 - 1, -(2**63),
            -(2**63) + 1]
    df = spark.createDataFrame([(v,) for v in vals], "phash long")
    for n in (1, 7, 64):
        got = (with_bucket(df, n_buckets=n)
               .select("phash", "bucket",
                       bucket_expr("phash", n).alias("filter_bucket"))
               .collect())
        for r in got:
            assert r.bucket == r.filter_bucket == (r.phash or 0) % n, (n, r)
        wave = [b for b in range(n) if b % 2 == 0]
        kept = (df.filter(bucket_expr("phash", n).isin(wave))
                .select(F.coalesce("phash", F.lit(0)).alias("p")).collect())
        assert sorted(r.p for r in kept) == sorted(
            (v or 0) for v in vals if (v or 0) % n in wave)
