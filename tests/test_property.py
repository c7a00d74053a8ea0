"""Property-based differential tests: random sparse frames, every core op
checked against the dense pandas oracle (the reference's own semantics).
Small matrices, bounded examples — the point is edge-shape coverage
(empty rows, disjoint keys, full overlap), not volume."""

import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sparsity_spark import from_pandas

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def sparse_pdf(draw, max_rows=8, max_cols=4, key_low=0, key_high=12):
    n = draw(st.integers(1, max_rows))
    k = draw(st.integers(1, max_cols))
    keys = draw(
        st.lists(st.integers(key_low, key_high), min_size=n, max_size=n, unique=True)
    )
    cells = draw(
        st.lists(
            st.floats(-10, 10, allow_nan=False).map(lambda v: round(v, 3)),
            min_size=n * k,
            max_size=n * k,
        )
    )
    mat = np.array(cells).reshape(n, k)
    mat[np.abs(mat) < 2.0] = 0.0  # sparsify
    return pd.DataFrame(mat, index=keys, columns=[f"c{i}" for i in range(k)])


def _dense_df(frame):
    """todense() with the reference's 1-col Series squeeze undone, so the
    hypothesis comparisons stay frame-vs-frame regardless of column count."""
    out = frame.todense()
    if isinstance(out, pd.Series):
        out = out.to_frame()
    return out


@given(a=sparse_pdf(), b=sparse_pdf())
@settings(**SETTINGS)
def test_add_outer_matches_pandas(spark, a, b):
    b = b.reindex(columns=a.columns, fill_value=0.0)
    got = _dense_df(from_pandas(spark, a).add(from_pandas(spark, b), how="outer")).sort_index()
    want = a.add(b, fill_value=0).fillna(0).sort_index()
    want.index.name = got.index.name
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@given(a=sparse_pdf(max_cols=3), b=sparse_pdf(max_cols=3), how=st.sampled_from(["outer", "inner", "left", "right"]))
@settings(**SETTINGS)
def test_join_axis1_matches_pandas(spark, a, b, how):
    b = b.copy()
    b.columns = [f"r{i}" for i in range(len(b.columns))]
    got = _dense_df(from_pandas(spark, a).join(from_pandas(spark, b), axis=1, how=how)).sort_index()
    want = a.join(b, how=how).fillna(0).sort_index()
    want.index.name = got.index.name
    if len(want) == 0:
        assert len(got) == 0
        return
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@given(a=sparse_pdf(max_rows=10))
@settings(**SETTINGS)
def test_groupby_sum_matches_pandas(spark, a):
    # non-unique keys: re-key rows into a small range to force collisions
    a = a.copy()
    a.index = [k % 3 for k in range(len(a))]
    got = _dense_df(from_pandas(spark, a).groupby_sum(level=0)).sort_index()
    want = a.groupby(level=0).sum().sort_index()
    want.index.name = got.index.name
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@given(a=sparse_pdf())
@settings(**SETTINGS)
def test_vstack_roundtrip(spark, a):
    from hypothesis import assume

    sf = from_pandas(spark, a)
    half = len(a) // 2
    assume(half != 0 and half != len(a))
    lo = from_pandas(spark, a.iloc[:half])
    hi = from_pandas(spark, a.iloc[half:])
    got = _dense_df(lo.vstack(hi)).sort_index()
    want = a.sort_index()
    want.index.name = got.index.name
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@given(a=sparse_pdf(), lo=st.integers(0, 12), width=st.integers(0, 6))
@settings(**SETTINGS)
def test_loc_range_inclusive_matches_pandas(spark, a, lo, width):
    a = a.sort_index()
    got = _dense_df(from_pandas(spark, a).loc_range(lo, lo + width)).sort_index()
    want = a.loc[lo : lo + width]  # pandas label slices are stop-inclusive
    assert len(got) == len(want)
    if len(want):
        np.testing.assert_allclose(got.to_numpy(), want.to_numpy())


@given(
    keys=st.lists(st.integers(0, 20), min_size=1, max_size=30),
    upd_keys=st.lists(st.integers(0, 25), min_size=0, max_size=15),
)
@settings(**SETTINGS)
def test_merge_upsert_matches_pandas_combine(spark, keys, upd_keys):
    """merge_upsert == pandas 'update wins, insert lands, base survives'."""
    import pandas as pd

    from sparsity_spark.operators.pipeline import merge_upsert

    base_pdf = pd.DataFrame({"k": sorted(set(keys)), "v": [float(k) for k in sorted(set(keys))]})
    upd_pdf = pd.DataFrame(
        {"k": sorted(set(upd_keys)), "v": [float(k) + 100 for k in sorted(set(upd_keys))]}
    )
    base = spark.createDataFrame(base_pdf, "k long, v double")
    upd = spark.createDataFrame(upd_pdf, "k long, v double") if len(upd_pdf) else base.limit(0)
    got = (
        merge_upsert(base, upd, key_cols=["k"]).toPandas().sort_values("k").reset_index(drop=True)
    )
    want = (
        pd.concat([base_pdf[~base_pdf["k"].isin(upd_pdf["k"])], upd_pdf])
        .sort_values("k")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["k", "v"]], want[["k", "v"]], check_dtype=False)


@given(
    fact_keys=st.lists(st.integers(0, 10), min_size=1, max_size=40),
    n_salts=st.integers(1, 8),
)
@settings(**SETTINGS)
def test_salted_join_matches_plain_join(spark, fact_keys, n_salts):
    """salted_join(fact, dim) row-multiset == plain join for any salt count."""
    from sparsity_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)], "k long, payload long"
    )
    dim = spark.createDataFrame([(k, k * 2) for k in range(0, 11, 2)], "k long, attr long")
    got = (
        salted_join(fact, dim, on="k", num_salts=n_salts)
        .toPandas()
        .sort_values(["k", "payload"])
        .reset_index(drop=True)
    )
    want = fact.join(dim, on="k").toPandas().sort_values(["k", "payload"]).reset_index(drop=True)
    assert got.shape == want.shape
    if len(want):
        assert (got[want.columns].to_numpy() == want.to_numpy()).all()


@given(
    seed=st.integers(0, 10_000),
    max_hamming=st.integers(1, 6),
)
@settings(**{**SETTINGS, "max_examples": 8})
def test_simhash_pairs_pigeonhole_lossless(spark, seed, max_hamming):
    """Property: the pigeonhole chunk join returns EXACTLY the pairs a
    brute-force hamming scan finds — lossless for any max_hamming, with
    near-dup docs constructed by token perturbation."""
    import itertools

    from sparsity_spark.operators.dedup import simhash, simhash_pairs

    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(50)]
    base_docs = []
    for i in range(12):
        toks = list(rng.choice(vocab, size=rng.randint(5, 25)))
        base_docs.append(" ".join(toks))
        if rng.rand() < 0.5:  # perturbed twin → likely small hamming
            twin = toks.copy()
            if len(twin) > 3:
                twin[rng.randint(len(twin))] = rng.choice(vocab)
            base_docs.append(" ".join(twin))
    pdf = pd.DataFrame({"doc_id": range(len(base_docs)), "text": base_docs})
    docs = spark.createDataFrame(pdf)

    got = simhash_pairs(docs, max_hamming=max_hamming).toPandas()
    got_pairs = {(r.id_a, r.id_b): r.hamming for r in got.itertuples()}

    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=64).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sims), 2):
        d = bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
        if d <= max_hamming:
            want[(a, b)] = d
    assert got_pairs == want


@pytest.mark.parametrize("seed", [0, 7])
def test_minhash_expr_bands_parity_random_docs(spark, seed):
    """Property: the streaming per-row band expression equals the batch
    aggregate band_keys on random word-soup corpora, including docs
    shorter than the shingle width (absent from both)."""
    from sparsity_spark.operators.dedup import band_keys, minhash_expr_bands

    from pyspark.sql import functions as F

    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab, size=rng.randint(1, 20)))
        for _ in range(25)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = spark.createDataFrame(pdf)
    agg = band_keys(docs).toPandas()
    expr = (
        docs.select("doc_id", F.explode(minhash_expr_bands("text")).alias("b"))
        .select("doc_id", "b.band", "b.band_key")
        .toPandas()
    )
    to_set = lambda df: set(map(tuple, df[["doc_id", "band", "band_key"]].to_numpy()))
    assert to_set(agg) == to_set(expr)


@pytest.mark.parametrize("seed", [3])
def test_curriculum_shards_monotone_and_balanced(spark, seed):
    """Property: shard is monotone in score, and on distinct continuous
    scores the bands are near-balanced (exactly what quantiles promise)."""
    from sparsity_spark.operators.pipeline import curriculum_shards

    rng = np.random.RandomState(seed)
    scores = rng.rand(200) * 100
    pdf = pd.DataFrame({"doc_id": range(200), "q": scores})
    out = (
        curriculum_shards(spark.createDataFrame(pdf), "q", n_shards=4)
        .toPandas()
        .sort_values("q")
    )
    sh = out["shard"].tolist()
    assert sh == sorted(sh)  # monotone in score
    sizes = out.groupby("shard").size()
    assert len(sizes) == 4 and sizes.min() >= 40  # near-balanced quartiles


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]),
            min_size=3,
            max_size=8,
        ),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
@example(
    # J = 55/100 exactly, and 0.55 * 100 = 55.00000000000001 in IEEE: an
    # unguarded ceil(t * |d|) shortens the prefix and tightens the length
    # filter by one and drops this exact-boundary pair
    docs=[[f"w{i}" for i in range(100)], [f"w{i}" for i in range(45, 100)]],
    threshold=0.55,
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_ppjoin_positional_filter_lossless(spark, docs, threshold):
    """jaccard_prefix_join (prefix + r5 POSITIONAL filtering) must return
    EXACTLY the brute-force pair set — the filters are provably lossless,
    and this pins it against random corpora (guards the overlap
    upper-bound arithmetic, including IEEE overshoot at t·|d|)."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    from sparsity_spark.operators.dedup import jaccard_prefix_join

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_join(df, threshold=threshold).collect()
    }
    truth = set()
    for i, a in enumerate(docs):
        for j in range(i + 1, len(docs)):
            sa, sb = set(a), set(docs[j])
            if len(sa & sb) / len(sa | sb) >= threshold:
                truth.add((i, j))
    assert got == truth


@given(
    vals=st.lists(
        st.integers(-1_000_000_000, 1_000_000_000), min_size=1, max_size=200
    ),
    threshold=st.sampled_from([0, 1, 50, 199, 200]),
)
@settings(**SETTINGS)
def test_scan_order_bucketing_matches_single_partition_oracle(
    spark, monkeypatch, vals, threshold
):
    """Property-lock the deterministic value-range bucketing + offset join
    (events.scan_order_ids parallel path) against a single-partition oracle
    across gaps, duplicates, skewed ranges, and exactly-at-threshold sizes
    (r5 VERDICT #10). Duplicate order values have no defined relative
    order, so compare positions GROUPWISE: the set of scan indices assigned
    to each distinct value must equal the oracle's."""
    from pyspark.sql import functions as F

    import sparsity_spark.events as ev_mod

    monkeypatch.setattr(ev_mod, "SCAN_ORDER_SINGLE_PARTITION_MAX", threshold)
    df = spark.createDataFrame([(int(v),) for v in vals], "o long")
    got = (
        ev_mod.scan_order_ids(df, "o")
        .groupBy("o")
        .agg(F.collect_list("__scan_idx__").alias("idx"))
        .toPandas()
    )
    got_map = {r.o: sorted(r.idx) for r in got.itertuples()}
    # oracle: plain python sort — position sets per value
    order = sorted(vals)
    want_map = {}
    for i, v in enumerate(order):
        want_map.setdefault(v, []).append(i)
    assert got_map == want_map


# ---- binary-format parser fuzzing (VERDICT r6 #7): decode-or-ValueError,
# never a wrong array or an uncontrolled crash ----


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_decode_ppm_fuzz_decode_or_valueerror(raw):
    from sparsity_spark.operators.multimodal import decode_ppm

    try:
        img = decode_ppm(b"P6" + raw)
    except ValueError:
        return
    assert img.ndim == 3 and img.shape[2] == 3


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    comments=st.lists(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                        exclude_characters="\n"), max_size=20),
        max_size=3,
    ),
    seed=st.integers(0, 2**31 - 1),
)
def test_decode_ppm_header_variants_roundtrip(w, h, comments, seed):
    """Comments, extra whitespace, and max-width headers must parse to the
    exact pixel grid; a >255 maxval must raise."""
    from sparsity_spark.operators.multimodal import decode_ppm

    rng = np.random.RandomState(seed)
    pix = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    hdr = b"P6"
    for c in comments:
        hdr += b"\n#" + c.encode()
    hdr += b"\n  %d\t%d  \n255\n" % (w, h)
    got = decode_ppm(hdr + pix.tobytes())
    assert (got == pix).all()
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n%d %d\n65535\n" % (w, h) + pix.tobytes())
    with pytest.raises(ValueError):  # truncated payload
        decode_ppm(hdr + pix.tobytes()[:-1])


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_decode_wav_fuzz_decode_or_valueerror(raw):
    from sparsity_spark.operators.multimodal import decode_wav

    payload = b"RIFF" + len(raw).to_bytes(4, "little") + b"WAVE" + raw
    try:
        samples, rate = decode_wav(payload)
    except ValueError:
        return
    assert samples.dtype == np.dtype("<i2")


@settings(max_examples=100, deadline=None)
@given(
    n=st.integers(1, 200),
    seed=st.integers(0, 2**31 - 1),
    junk=st.binary(min_size=1, max_size=31),
)
def test_decode_wav_unknown_and_odd_chunks_roundtrip(n, seed, junk):
    """Unknown chunks (odd sizes included, word-aligned pad) around fmt/data
    must be skipped; the decoded samples must equal the encoded ones."""
    from sparsity_spark.operators.multimodal import decode_wav, wav_encode

    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32768, size=n).astype("<i2")
    std = wav_encode(s, rate=8000)
    fmt_and_data = std[12:]  # strip RIFF header, keep fmt + data chunks
    jc = b"JUNK" + len(junk).to_bytes(4, "little") + junk
    if len(junk) & 1:
        jc += b"\x00"  # word alignment pad
    body = jc + fmt_and_data + jc
    payload = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body
    got, rate = decode_wav(payload)
    assert rate == 8000
    np.testing.assert_array_equal(np.asarray(got), s)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cut=st.floats(0.01, 0.999), seed=st.integers(0, 2**31 - 1))
def test_tdb_truncation_decode_or_error(tmp_path_factory, cut, seed):
    """A truncated .tdb container must either fail loudly at open/decode or
    decode a prefix of the original events — never return corrupted
    values (the tar member offsets and bitstream lengths are
    self-describing, so truncation lands outside a valid member)."""
    import tarfile

    from sparsity_spark.traildb import decode_trails, open_tdb, write_tdb

    rng = np.random.RandomState(seed)
    trails = [
        (
            f"{u:032x}",
            [
                (int(t), {"k": f"v{rng.randint(3)}"})
                for t in sorted(rng.randint(0, 1000, size=rng.randint(1, 6)))
            ],
        )
        for u in range(4)
    ]
    base = tmp_path_factory.mktemp("tdbfuzz")
    full = str(base / "full.tdb")
    write_tdb(full, trails)
    want = None
    meta = open_tdb(full)
    want = [(tid, ts, vals["k"]) for tid, ts, vals in decode_trails(meta)]

    raw = open(full, "rb").read()
    trunc = str(base / "trunc.tdb")
    with open(trunc, "wb") as f:
        f.write(raw[: max(1, int(len(raw) * cut))])
    try:
        m2 = open_tdb(trunc)
        got = [(tid, ts, vals["k"]) for tid, ts, vals in decode_trails(m2)]
    except (ValueError, KeyError, AssertionError, struct.error, tarfile.TarError, EOFError, OSError):
        return
    assert got == want  # only a byte-complete container may decode fully


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_decode_png_fuzz_decode_or_valueerror(raw):
    """r7 PNG codec fuzz: arbitrary bytes after the signature must decode
    or raise ValueError — never a wrong array or an uncontrolled crash."""
    from sparsity_spark.operators.multimodal import PNG_SIG, decode_png

    try:
        img = decode_png(PNG_SIG + raw)
    except ValueError:
        return
    assert img.ndim == 3 and img.shape[2] in (1, 3, 4)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 10),
    h=st.integers(1, 10),
    c=st.sampled_from([1, 3, 4]),
    fm=st.sampled_from([0, 1, 2, 3, 4, "cycle"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(w, h, c, fm, seed):
    """Every (size, color type, filter) combination must round-trip to the
    exact pixel array; truncation and a flipped CRC byte must raise."""
    from sparsity_spark.operators.multimodal import decode_png, png_encode

    rng = np.random.RandomState(seed)
    a = rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)
    p = png_encode(a, fm)
    assert (decode_png(p) == a).all()
    with pytest.raises(ValueError):
        decode_png(p[:-1])
    bad = bytearray(p)
    bad[-5] ^= 0x01  # IEND CRC byte
    with pytest.raises(ValueError):
        decode_png(bytes(bad))


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), junk=st.binary(min_size=0, max_size=24))
def test_png_ancillary_chunks_skipped(seed, junk):
    """CRC-valid ancillary chunks between IHDR and IDAT must be skipped;
    the decoded pixels must be unchanged."""
    import zlib

    from sparsity_spark.operators.multimodal import decode_png, png_encode

    rng = np.random.RandomState(seed)
    a = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    p = png_encode(a, 2)
    anc = (
        len(junk).to_bytes(4, "big")
        + b"tEXt"
        + junk
        + (zlib.crc32(b"tEXt" + junk) & 0xFFFFFFFF).to_bytes(4, "big")
    )
    ihdr_end = 8 + 25  # signature + IHDR chunk
    spliced = p[:ihdr_end] + anc + p[ihdr_end:]
    assert (decode_png(spliced) == a).all()


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    small_keys=st.lists(st.integers(-1000, 1000), min_size=0, max_size=40, unique=True),
    big_keys=st.lists(st.integers(-1000, 1000), min_size=1, max_size=120),
)
def test_bloom_semijoin_matches_plain_semijoin(spark, small_keys, big_keys):
    """r7 bloom prefilter: no false negatives by construction + the exact
    join removes false positives — bloom_semijoin must equal the plain
    left-semi join on arbitrary (including negative and absent) keys."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.skew import bloom_semijoin

    big = spark.createDataFrame(
        [(int(k), i) for i, k in enumerate(big_keys)], "key long, v long"
    )
    small = spark.createDataFrame(
        [(int(k),) for k in small_keys] or [(None,)], "skey long"
    )
    got = sorted(
        (r["key"], r["v"])
        for r in bloom_semijoin(big, small, "key", "skey", m_bits=1 << 10, k=3).collect()
    )
    want = sorted(
        (r["key"], r["v"])
        for r in big.join(small, big["key"] == small["skey"], "leftsemi").collect()
    )
    assert got == want


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=300))
def test_decode_adpcm_fuzz_decode_or_valueerror(raw):
    """r7 ADPCM branch fuzz: a format-0x11 fmt chunk with arbitrary
    following bytes must decode or raise ValueError."""
    from sparsity_spark.operators.multimodal import decode_wav

    fmt = (
        (17).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (4096).to_bytes(4, "little")
        + (256).to_bytes(2, "little") + (4).to_bytes(2, "little")
    )
    body = b"fmt " + len(fmt).to_bytes(4, "little") + fmt + raw
    payload = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body
    try:
        samples, rate = decode_wav(payload)
    except ValueError:
        return
    assert samples.dtype == np.dtype("<i2")


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(1, 1600),
    seed=st.integers(0, 2**31 - 1),
    block_align=st.sampled_from([8, 64, 256]),
)
def test_adpcm_roundtrip_property(n, seed, block_align):
    """Any sample count (including non-block-multiples) must round-trip to
    exactly n samples; block-anchor samples are exact; decode is
    deterministic; a corrupted step index raises."""
    from sparsity_spark.operators.multimodal import adpcm_wav_encode, decode_wav

    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32768, size=n).astype(np.int16)
    p = adpcm_wav_encode(s, rate=16000, block_align=block_align)
    dec, rate = decode_wav(p)
    assert rate == 16000 and len(dec) == n
    spb = (block_align - 4) * 2 + 1
    for b in range(0, n, spb):
        assert dec[b] == s[b]
    dec2, _ = decode_wav(p)
    assert (dec == dec2).all()
    # corrupt the first block's step index to 200 -> ValueError
    data_at = p.find(b"data") + 8
    bad = bytearray(p)
    bad[data_at + 2] = 200
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_decode_y4m_fuzz_decode_or_valueerror(raw):
    """r7 Y4M codec fuzz: arbitrary bytes after the magic must decode or
    raise ValueError — never a wrong array or an uncontrolled crash."""
    from sparsity_spark.operators.multimodal import decode_y4m

    try:
        fr = decode_y4m(b"YUV4MPEG2" + raw)
    except ValueError:
        return
    assert fr.ndim in (3, 4) and fr.shape[0] >= 1


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(1, 5),
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    mono=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
    cut=st.floats(0.1, 0.99),
)
def test_y4m_roundtrip_property(n, w, h, mono, seed, cut):
    """Every (frame count, size, colorspace) combination must round-trip
    to the exact frame array; any truncation must raise — a Y4M stream has
    no padding, so a cut payload can never decode to the full stream."""
    from sparsity_spark.operators.multimodal import decode_y4m, y4m_encode

    rng = np.random.RandomState(seed)
    shape = (n, h, w) if mono else (n, h, w, 3)
    a = rng.randint(0, 256, size=shape).astype(np.uint8)
    p = y4m_encode(a)
    assert (decode_y4m(p) == a).all()
    trunc = p[: max(1, int(len(p) * cut))]
    if trunc == p:
        return
    try:
        got = decode_y4m(trunc)
    except ValueError:
        return
    # a cut at an exact frame boundary decodes a valid PREFIX of the stream
    k = got.shape[0]
    assert k < n and (got == a[:k]).all()


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_decode_gif_fuzz_decode_or_valueerror(raw):
    """r7 GIF codec fuzz: arbitrary bytes after the magic must decode or
    raise ValueError — never wrong pixels or an uncontrolled crash."""
    from sparsity_spark.operators.multimodal import decode_gif

    try:
        fr = decode_gif(b"GIF89a" + raw)
    except ValueError:
        return
    assert fr.ndim == 4 and fr.shape[3] == 3


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(1, 4),
    w=st.integers(1, 16),
    h=st.integers(1, 16),
    ncolors=st.sampled_from([2, 3, 8, 16, 256]),
    inter=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_property(n, w, h, ncolors, inter, seed):
    """Every (frame count, size, palette size, interlace) combination must
    round-trip to the exact RGB frames; truncation must raise."""
    from sparsity_spark.operators.multimodal import decode_gif, gif_encode

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (ncolors, 3)).astype(np.uint8)
    idx = rng.randint(0, ncolors, (n, h, w)).astype(np.uint8)
    p = gif_encode(idx, pal, interlace=inter)
    assert (decode_gif(p) == pal[idx]).all()
    with pytest.raises(ValueError):
        decode_gif(p[: len(p) - 1])


@settings(max_examples=80, deadline=None)
@given(
    mcs=st.integers(2, 8),
    seed=st.integers(0, 2**31 - 1),
    length=st.integers(1, 2000),
)
def test_gif_lzw_roundtrip_property(mcs, seed, length):
    """The LZW pair must round-trip arbitrary index streams across every
    code size, including streams long enough to grow the code width and
    freeze the dictionary."""
    from sparsity_spark.operators.multimodal import _gif_lzw_decode, _gif_lzw_encode

    rng = np.random.RandomState(seed)
    idxs = rng.randint(0, 1 << mcs, length).tolist()
    data = _gif_lzw_encode(idxs, mcs)
    assert _gif_lzw_decode(data, mcs, length) == idxs


def _py_components(ids, pairs):
    """Union-find ground truth: component-minimum label per id."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


@given(data=st.data())
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_fold_cluster_store_random_graphs_equal_scratch(spark, data):
    """r9 cluster store, property form: ANY random pair graph, split into
    a stored corpus and two sequential batch folds, must resolve to the
    same component minima as a from-scratch union-find — including
    whatever bridges, chains, and singleton shapes hypothesis draws."""
    from sparsity_spark.operators.dedup import (
        duplicate_clusters,
        fold_cluster_store,
        resolve_cluster_store,
        write_cluster_store,
    )

    n = data.draw(st.integers(6, 14), label="n_ids")
    ids = list(range(n))
    n_pairs = data.draw(st.integers(0, 12), label="n_pairs")
    pairs = [
        tuple(sorted(data.draw(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)).filter(
                lambda t: t[0] != t[1]
            ),
            label=f"pair{i}",
        )))
        for i in range(n_pairs)
    ]
    cut1 = data.draw(st.integers(2, n - 2), label="corpus_cut")
    cut2 = data.draw(st.integers(cut1 + 1, n - 1), label="batch_cut")
    corpus_ids = ids[:cut1]
    b1_ids, b2_ids = ids[cut1:cut2], ids[cut2:]

    def pdf(rows, cols):
        schema = ", ".join(f"{c} long" for c in cols)
        if not rows:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

    in_corpus = set(corpus_ids)
    corpus_pairs = [p for p in pairs if p[0] in in_corpus and p[1] in in_corpus]
    labels = duplicate_clusters(
        pdf(corpus_pairs, ["id_a", "id_b"]), pdf([(i,) for i in corpus_ids], ["doc_id"])
    )
    write_cluster_store(labels, "cluster_store_prop")

    seen = set(corpus_ids)
    for batch in (b1_ids, b2_ids):
        bset = set(batch)
        inc = [
            p for p in pairs
            if (p[0] in bset or p[1] in bset)
            and p[0] in (seen | bset) and p[1] in (seen | bset)
        ]
        resolved = fold_cluster_store(
            pdf([(i,) for i in batch], ["doc_id"]),
            pdf(inc, ["id_a", "id_b"]),
            "cluster_store_prop",
        )
        seen |= bset

    got = {r["doc_id"]: r["cluster_id"] for r in resolved.collect()}
    want = _py_components(ids, pairs)
    assert got == want


def _gram_set(text, k=3):
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else set()


def _boilerplate_corpus(rng, n_docs, vocab_size=30, boiler_p=0.6):
    """Random word-soup docs, a fraction carrying one shared boilerplate
    header (the prefix filter's adversarial shape), plus occasional
    planted near-supersets (a doc's text embedded in a longer doc)."""
    vocab = [f"w{i}" for i in range(vocab_size)]
    header = "all rights reserved by the site owner"
    docs = []
    for i in range(n_docs):
        toks = list(rng.choice(vocab, size=rng.randint(4, 16)))
        body = " ".join(toks)
        if rng.rand() < boiler_p:
            body = header + " " + body
        docs.append(body)
        if rng.rand() < 0.4 and len(docs) >= 1:  # planted containment
            host = docs[rng.randint(len(docs))]
            docs.append(host + " " + " ".join(rng.choice(vocab, size=rng.randint(0, 8))))
    return pd.DataFrame({"doc_id": range(len(docs)), "text": docs})


@pytest.mark.parametrize("seed,t", [(0, 0.6), (3, 0.8), (11, 0.5), (42, 0.9)])
def test_containment_join_prefix_lossless_vs_bruteforce(spark, seed, t):
    """Property (r10): the prefix-filtered containment join returns
    EXACTLY the directional pairs a brute-force all-pairs scan finds —
    lossless at any threshold, on corpora mixing boilerplate headers,
    random bodies, and planted near-supersets (the shapes that stress
    both the pruning and the min-side-denominator argument)."""
    from sparsity_spark.operators.dedup import containment_join

    rng = np.random.RandomState(seed)
    pdf = _boilerplate_corpus(rng, n_docs=14)
    docs = spark.createDataFrame(pdf)
    got = {
        (r.src_id, r.dst_id): (r.overlap, r.src_size)
        for r in containment_join(docs, threshold=t, k=3).collect()
    }
    grams = {r.doc_id: _gram_set(r.text) for r in pdf.itertuples()}
    want = {}
    for a in grams:
        for b in grams:
            if a == b or not grams[a]:
                continue
            ov = len(grams[a] & grams[b])
            # same single-divide compare the engine evaluates
            if ov > 0 and ov / len(grams[a]) >= t:
                want[(a, b)] = (ov, len(grams[a]))
    assert got == want


@pytest.mark.parametrize("seed", [0, 3, 11, 42])
@pytest.mark.parametrize("t", [0.5, 0.8])
def test_jaccard_prefix_join_shingles_lossless_vs_bruteforce(spark, seed, t):
    """The k=3 shingle unit (the one the benchmark and the
    dedup_jaccard_prefix_shingles row run) returns EXACTLY the pairs a
    brute-force all-pairs Jaccard scan finds, on corpora mixing
    boilerplate headers, random bodies and planted near-supersets."""
    from sparsity_spark.operators.dedup import jaccard_prefix_join

    rng = np.random.RandomState(seed)
    pdf = _boilerplate_corpus(rng, n_docs=14)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_prefix_join(spark.createDataFrame(pdf), threshold=t, k=3).collect()
    }
    grams = {r.doc_id: _gram_set(r.text) for r in pdf.itertuples()}
    want = {}
    for a in grams:
        for b in grams:
            if a >= b or not grams[a] or not grams[b]:
                continue
            # same single divide of exact integers the engine evaluates
            j = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
            if j >= t:
                want[(a, b)] = j
    assert set(got) == set(want)
    # the engine rounds half-up to 4 places
    assert all(abs(got[p] - want[p]) <= 5e-5 + 1e-12 for p in want)


@pytest.mark.parametrize("seed,t", [(1, 0.6), (9, 0.85)])
def test_containment_screen_lossless_vs_bruteforce(spark, seed, t):
    """Property (r10): the store-backed incremental screen equals a
    brute-force batch×corpus containment scan — the batch-side-denominator
    prefix probe must be lossless under boilerplate df skew, including
    batch docs whose grams the corpus has never seen (df 0)."""
    from sparsity_spark.operators.dedup import (
        containment_screen,
        write_containment_store,
    )

    rng = np.random.RandomState(seed)
    pdf = _boilerplate_corpus(rng, n_docs=12)
    corpus_pdf = pdf[pdf.doc_id % 3 != 0]
    batch_pdf = pdf[pdf.doc_id % 3 == 0]
    write_containment_store(
        spark.createDataFrame(corpus_pdf), "contain_prop_store"
    )
    got = {
        (r.batch_id, r.corpus_id): (r.overlap, r.batch_size)
        for r in containment_screen(
            spark.createDataFrame(batch_pdf), "contain_prop_store", threshold=t
        ).collect()
    }
    bg = {r.doc_id: _gram_set(r.text) for r in batch_pdf.itertuples()}
    cg = {r.doc_id: _gram_set(r.text) for r in corpus_pdf.itertuples()}
    want = {}
    for b, gs in bg.items():
        if not gs:
            continue
        for c, cs in cg.items():
            ov = len(gs & cs)
            if ov > 0 and ov / len(gs) >= t:
                want[(b, c)] = (ov, len(gs))
    assert got == want
