"""Round-9 additions: JPEG restart-interval (DRI/RST) support and the
input_file_name() directory-audit query."""

import pytest

from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J


def _gradient(x, y):
    return (3 * x + 5 * y) % 256


def test_jpeg_restart_gray_roundtrip_identical():
    """Restart markers only re-frame the entropy stream (byte-align +
    DC reset); decoded pixels must match the no-restart encoding of
    the same image exactly."""
    plain = J.make_jpeg_gray(37, 21, _gradient)
    rst = J.make_jpeg_gray(37, 21, _gradient, restart_interval=2)
    assert b"\xff\xdd" in rst and b"\xff\xd0" in rst
    assert b"\xff\xdd" not in plain
    assert J.decode_jpeg_gray(rst) == J.decode_jpeg_gray(plain)


def test_jpeg_restart_color_interleaved_roundtrip_identical():
    def px(x, y):
        return ((x * 7) % 256, (y * 5) % 256, ((x + y) * 3) % 256)

    plain = J.make_jpeg_color(19, 18, px)
    rst = J.make_jpeg_color(19, 18, px, restart_interval=3)
    assert J.decode_jpeg(rst) == J.decode_jpeg(plain)


def test_jpeg_restart_sequence_numbers_cycle_mod8():
    """A long strip forces >8 restart boundaries so RST0-7 must wrap."""
    rst = J.make_jpeg_gray(8 * 24, 8, lambda x, y: (x * 11 + y) % 256, restart_interval=2)
    markers = [rst[i + 1] - 0xD0 for i in range(len(rst) - 1)
               if rst[i] == 0xFF and 0xD0 <= rst[i + 1] <= 0xD7]
    assert len(markers) == 11  # 24 MCUs / interval 2 -> 11 interior boundaries
    assert markers == [m % 8 for m in range(11)]
    plain = J.make_jpeg_gray(8 * 24, 8, lambda x, y: (x * 11 + y) % 256)
    assert J.decode_jpeg_gray(rst) == J.decode_jpeg_gray(plain)


def test_jpeg_restart_out_of_order_marker_raises():
    rst = J.make_jpeg_gray(37, 21, _gradient, restart_interval=2)
    i = rst.find(b"\xff\xd0")
    tampered = rst[: i + 1] + b"\xd5" + rst[i + 2 :]
    with pytest.raises(ValueError, match="RST"):
        J.decode_jpeg_gray(tampered)


def test_jpeg_restart_dc_reset_matters():
    """Deleting one restart marker desynchronizes the stream: decode
    must fail closed (raise), never return silently-wrong pixels."""
    rst = J.make_jpeg_gray(37, 21, _gradient, restart_interval=2)
    i = rst.find(b"\xff\xd0")
    stripped = rst[:i] + rst[i + 2 :]
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(stripped)


def test_file_audit_lists_every_catalog_file(spark, sf_dir):
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
    from advanced_data_mining_and_big_data_analysis_spark.sources import TABLES

    rows = all_queries()["a0169_file_audit_inputs"].fn(spark, sf_dir).collect()
    groups = {r.file_group: r for r in rows}
    for t in TABLES:
        assert f"{t}.parquet" in groups, t
        assert groups[f"{t}.parquet"].n_files == 1
    mirror = [r for r in rows if r.file_group.startswith("mirror/")]
    assert {r.file_group for r in mirror} == {
        "mirror/l_returnflag=A", "mirror/l_returnflag=N", "mirror/l_returnflag=R"
    }
    for r in mirror:  # repartition-by-key write => exactly one file per dir
        assert r.n_files == 1


# ------------------------- progressive (SOF2) JPEG -------------------------


def test_jpeg_progressive_gray_equals_baseline():
    """Progressive transmits the same quantized coefficients as
    baseline over a 9-scan schedule — the decoded pixels must match the
    baseline encoding exactly. The gradient image produces nonzero AC
    coefficients in both spectral bands, exercising AC first + refine."""
    base = J.make_jpeg_gray(37, 21, _gradient)
    prog = J.make_jpeg_progressive(37, 21, _gradient, components=1)
    assert prog[2:4] != base[2:4] or b"\xff\xc2" in prog
    assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog[:200]
    assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base)


def test_jpeg_progressive_color_equals_baseline():
    def px(x, y):
        return ((x * 7) % 256, (y * 5) % 256, ((x + y) * 3) % 256)

    base = J.make_jpeg_color(19, 18, px)
    prog = J.make_jpeg_progressive(19, 18, px, components=3, colorspace="rgb")
    assert J.decode_jpeg(prog) == J.decode_jpeg(base)


def test_jpeg_progressive_sparse_exercises_long_eob_runs():
    """A nearly-flat image leaves most blocks with zero AC in every
    band, so the AC scans are dominated by cross-block EOBn runs
    (n > 1) — the path a per-block EOB0 encoder would never hit. One
    block carries detail so the runs must break and resume correctly."""
    def px(x, y):
        if 16 <= x < 24 and 8 <= y < 16:
            return (x * 31 + y * 17) % 256
        return 130

    base = J.make_jpeg_gray(8 * 12, 8 * 4, px)
    prog = J.make_jpeg_progressive(8 * 12, 8 * 4, px, components=1)
    assert J.decode_jpeg_gray(prog) == J.decode_jpeg_gray(base)


def test_jpeg_progressive_band_split_variants():
    """The spectral split is a transport choice — any banding must
    decode to the same pixels."""
    ref = J.decode_jpeg_gray(J.make_jpeg_gray(24, 24, _gradient))
    for bands in [((1, 63),), ((1, 2), (3, 9), (10, 63))]:
        prog = J.make_jpeg_progressive(24, 24, _gradient, components=1, ac_bands=bands)
        assert J.decode_jpeg_gray(prog) == ref, bands


def test_jpeg_progressive_truncation_raises():
    prog = J.make_jpeg_progressive(37, 21, _gradient, components=1)
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(prog[: len(prog) // 2])


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes;
    both parsers must skip them instead of misreading a segment
    length."""
    base = J.make_jpeg_gray(24, 16, _gradient)
    i = base.find(b"\xff\xc0")
    assert J.decode_jpeg_gray(base[:i] + b"\xff" + base[i:]) == J.decode_jpeg_gray(base)
    prog = J.make_jpeg_progressive(24, 16, _gradient, components=1)
    j = prog.find(b"\xff\xc2")
    assert J.decode_jpeg_gray(prog[:j] + b"\xff\xff" + prog[j:]) == J.decode_jpeg_gray(prog)


# --------------------- property-based codec equivalence ---------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ri=st.sampled_from([0, 1, 2, 5]),
)
def test_jpeg_gray_restart_progressive_equivalence(w, h, seed, ri):
    """For ANY image and restart interval, the three transports of the
    same quantized coefficients — plain baseline, baseline+DRI, and
    progressive — must decode identically (they differ only in entropy
    framing)."""
    def px(x, y, s=seed):
        return (s + x * 31 + y * 17 + ((x * y) ^ s) % 97) % 256

    ref = J.decode_jpeg_gray(J.make_jpeg_gray(w, h, px))
    assert J.decode_jpeg_gray(J.make_jpeg_gray(w, h, px, restart_interval=ri)) == ref
    assert J.decode_jpeg_gray(J.make_jpeg_progressive(w, h, px, components=1)) == ref


@settings(max_examples=10, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_color_progressive_equivalence(w, h, seed):
    def px(x, y, s=seed):
        return ((s + x * 7) % 256, (s // 3 + y * 5) % 256, (s // 7 + (x + y) * 3) % 256)

    ref = J.decode_jpeg(J.make_jpeg_color(w, h, px))
    assert J.decode_jpeg(J.make_jpeg_progressive(w, h, px, components=3, colorspace="rgb")) == ref
    assert J.decode_jpeg(J.make_jpeg_color(w, h, px, restart_interval=3)) == ref


# ---------------------------------------------------------------- a0177 BPE encode


def test_bpe_encode_repr_matches_reference(spark):
    """The wrapped-symbol replace chain must reproduce the greedy
    skip-2 per-rule pass exactly — including runs of identical
    symbols ('aaaa' class), where space-delimited replace schemes
    diverge — and a==b / chained-merge rules."""
    import random

    from pyspark.sql import functions as F

    from advanced_data_mining_and_big_data_analysis_spark.operators import text as X

    random.seed(7)
    words = ["", "a", "aa", "aaa", "aaaa", "aaaaa", "abab", "ababab", "banana"]
    words += ["".join(random.choice("ab") for _ in range(random.randint(1, 18))) for _ in range(80)]
    merges = [("a", "a"), ("b", "b"), ("a", "b"), ("aa", "aa"), ("aab", "b"), ("aa", "b")]

    df = spark.createDataFrame([(w,) for w in words], "word string")
    enc = X.bpe_encode_repr("word", merges)
    ntok = F.length(enc) - F.length(F.replace(enc, F.lit(">"), F.lit("")))
    rows = df.select("word", enc.alias("repr"), ntok.alias("ntok")).collect()
    for r in rows:
        want = X.bpe_apply_reference(r["word"], merges)
        got = r["repr"][1:-1].split("><") if r["repr"] else []
        assert got == want, (r["word"], got, want)
        assert r["ntok"] == len(want)


def test_bpe_encode_reproduces_trainer_vocab_state(spark, sf_dir):
    """Replaying bpe_train's own merges over raw words must land on the
    trainer's final symbol arrays (encode == train-time segmentation)."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import text as X
    from advanced_data_mining_and_big_data_analysis_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = X.bpe_train(docs, 6)
    wc = [(r["word"], r["wcount"]) for r in X.word_counts(docs).collect()]
    for word, _ in sorted(wc)[:300]:
        assert X.bpe_apply_reference(word, merges) == _train_rewrite(word, merges)


def _train_rewrite(word, merges):
    """bpe_train_reference's vocabulary rewrite, applied to one word."""
    syms = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms
