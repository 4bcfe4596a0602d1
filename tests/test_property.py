"""Property-based round-trips (hypothesis) for the pure-Python codecs —
the from-spec binary parsers are the riskiest code in the repo, so fuzz
their encode/decode pairs instead of trusting hand-picked fixtures."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_lzw_roundtrip(data):
    from beacon_spark.sources.tifflite import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(data)) == data


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=512).filter(lambda b: len(b) % 4 == 0))
def test_z85_roundtrip(data):
    from beacon_spark.sources.delta_dv import z85_decode, z85_encode

    assert z85_decode(z85_encode(data)) == data


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40) - 1),
        min_size=0,
        max_size=300,
    )
)
def test_roaring_roundtrip(indexes):
    from beacon_spark.sources.delta_dv import (
        roaring_bitmap_array_decode,
        roaring_bitmap_array_encode,
    )

    assert roaring_bitmap_array_decode(
        roaring_bitmap_array_encode(indexes)
    ) == sorted(set(indexes))


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([1, 3, 4]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip(h, w, nch, seed):
    from beacon_spark.pipeline.pnglite import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, nch), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=500,
    ),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip(samples, rate):
    from beacon_spark.pipeline.multimodal import decode_wav, encode_wav

    arr = np.array(samples)
    out, r = decode_wav(encode_wav(arr, rate))
    assert r == rate and out.shape == (len(samples), 1)
    # 16-bit quantization: truncation (1 LSB) + the 32767/32768
    # encode/decode scale mismatch -> up to ~2 LSB of error
    assert np.allclose(out[:, 0], arr, atol=2.5 / 32767)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_wkt_wkb_roundtrip_multipoint(points):
    from beacon_spark.functions.geo import wkb_to_wkt
    from beacon_spark.functions.st import parse_wkt, wkt_to_wkb

    wkt = "MULTIPOINT (" + ", ".join(f"({x} {y})" for x, y in points) + ")"
    rt = wkb_to_wkt(wkt_to_wkb(wkt))
    assert np.allclose(
        parse_wkt(rt).all_coords(), parse_wkt(wkt).all_coords()
    )


@given(st.binary(min_size=0, max_size=8192))
def test_blosclz_roundtrip_fuzz(data):
    from beacon_spark.sources.blosclite import (
        _blosclz_compress,
        _blosclz_decompress,
    )

    assert _blosclz_decompress(_blosclz_compress(data), len(data)) == data


@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=0, max_value=257),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_bitshuffle_roundtrip_fuzz(typesize, nbytes_extra, seed):
    import numpy as np

    from beacon_spark.sources.blosclite import (
        _bitshuffle_block,
        _bitunshuffle_block,
    )

    rng = np.random.default_rng(seed)
    data = bytes(rng.integers(0, 256, typesize * 8 + nbytes_extra, dtype=np.uint8))
    assert _bitunshuffle_block(_bitshuffle_block(data, typesize), typesize) == data


@given(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_gif_roundtrip_fuzz(n_frames, h, w, n_colors, seed):
    import numpy as np

    from beacon_spark.pipeline.giflite import decode_gif, encode_gif, scan_gif_meta

    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    frames = [palette[rng.integers(0, n_colors, (h, w))] for _ in range(n_frames)]
    delays = [int(d) * 10 for d in rng.integers(0, 300, n_frames)]
    payload = encode_gif(frames, delays)
    out = decode_gif(payload)
    assert [d for d, _ in out] == delays
    for (_, got), want in zip(out, frames):
        np.testing.assert_array_equal(got, want)
    n, dur = scan_gif_meta(payload)
    assert n == n_frames and dur == sum(delays)


@settings(max_examples=60, deadline=None)
@given(content=st.text(
    alphabet=st.sampled_from(list("ab'\\-/*; \nINSERT?`\"x0")), max_size=24))
def test_sql_lexer_matches_spark_string_parsing(spark, content):
    """The shared SQL lexer (guard._lex) backs the read-only gate, the
    auth reference checks, and every dialect rewrite — a desync from
    Spark's REAL string parsing was the round-8 write-smuggle bypass.
    Property: for arbitrary content, a Spark-escaped literal embedding
    it (a) evaluates back to the content and (b) is seen by our lexer
    as exactly one literal span ending where Spark ends it (the 'END'
    sentinel stays code and write keywords inside the literal stay
    hidden)."""
    from beacon_spark.engine import Engine
    from beacon_spark.server.guard import scrub_sql

    lit = "'" + content.replace("\\", "\\\\").replace("'", "\\'") + "'"
    stmt = f"SELECT {lit} AS v, 'END' AS e"
    row = spark.sql(stmt).collect()[0]
    assert row.v == content and row.e == "END"  # escaping ground truth
    scrubbed = scrub_sql(stmt)
    # the sentinel column survives as CODE — the lexer closed the first
    # literal exactly where Spark did
    assert scrubbed.endswith(" AS v, '' AS e")
    assert scrubbed.startswith("SELECT '")
    # write keywords inside the literal are data to a read-only call
    row = Engine(spark).sql(stmt, read_only=True).collect()[0]
    assert row.v == content and row.e == "END"


@settings(max_examples=40, deadline=None)
@given(content=st.text(
    alphabet=st.sampled_from(list("ab' -;\nDROPx")), max_size=16))
def test_sql_lexer_doubled_quote_escape(spark, content):
    """Same property for the SQL '' doubling escape (backslash-free
    content, where both escapes are valid Spark spellings)."""
    from beacon_spark.server.guard import scrub_sql

    assume_ok = "\\" not in content
    if not assume_ok:
        return
    lit = "'" + content.replace("'", "''") + "'"
    stmt = f"SELECT {lit} AS v, 'END' AS e"
    row = spark.sql(stmt).collect()[0]
    assert row.v == content and row.e == "END"
    assert scrub_sql(stmt).endswith(" AS v, '' AS e")


# ---------------------------------------------------------------- r9:
# statement-position scanners vs Spark's REAL parse. These scanners gate
# federated pushdown and the * REPLACE tail peel — a desync means silently
# wrong remote data, so (like the lexer above) they are pinned against
# Spark's own analysis on generated statements full of lexical traps.

_SCAN_TABLES = ("tbl_pa", "tbl_pb", "tbl_pc")


def _scan_views(spark):
    import re as _re

    for t in _SCAN_TABLES:
        spark.range(4).selectExpr(
            "id AS c1", "id * 2 AS c2"
        ).createOrReplaceTempView(t)

    def real_tables(stmt):
        plan = spark.sql(stmt)._jdf.queryExecution().analyzed().toString()
        return {m.group(1) for m in _re.finditer(r"View \(`(\w+)`", plan)}

    return real_tables


@st.composite
def _table_position_stmt(draw):
    """A valid SELECT whose referenced tables are known by construction,
    salted with the traps the scanner must not trip on: literals
    containing ' FROM x ' (with backslash-escaped quotes), comments,
    IS [NOT] DISTINCT FROM, EXTRACT(day FROM …), subquery sources,
    comma FROM-lists, CTEs."""
    used = set()
    aliases = []
    srcs = []
    for k in range(draw(st.integers(1, 2))):
        t = draw(st.sampled_from(_SCAN_TABLES))
        used.add(t)
        alias = f"s{k}"
        aliases.append(alias)
        kind = draw(st.sampled_from(["bare", "as", "subquery"]))
        if kind == "bare":
            srcs.append(f"{t} {alias}")
        elif kind == "as":
            srcs.append(f"{t} AS {alias}")
        else:
            srcs.append(f"(SELECT c1, c2 FROM {t}) {alias}")
    if len(srcs) == 2 and draw(st.booleans()):
        frm = f"{srcs[0]} JOIN {srcs[1]} ON s0.c1 = s1.c1"
    else:
        frm = ", ".join(srcs)
    prefix = ""
    if draw(st.booleans()):
        t = draw(st.sampled_from(_SCAN_TABLES))
        used.add(t)
        prefix = f"WITH w AS (SELECT c1 AS wc FROM {t}) "
        if draw(st.booleans()):
            frm += ", w"
    sel = ["s0.c1"]
    if draw(st.booleans()):
        sel.append("extract(day FROM DATE'2024-01-02') AS d")
    comment = draw(st.sampled_from(
        ["", " -- from tbl_zz join qq\n", " /* join tbl_zz */ "]))
    where = draw(st.sampled_from([
        "",
        " WHERE s0.c2 IS NOT DISTINCT FROM 2",
        " WHERE CAST(s0.c2 AS STRING) != ' FROM tbl_zz x '",
        " WHERE CAST(s0.c2 AS STRING) != '\\' from tbl_zz '",
        " WHERE s0.c1 IN (SELECT c1 FROM tbl_pc)",
    ]))
    if "tbl_pc" in where:
        used.add("tbl_pc")
    stmt = f"{prefix}SELECT {', '.join(sel)}{comment} FROM {frm}{where}"
    return stmt, used


@settings(max_examples=50, deadline=None)
@given(data=_table_position_stmt())
def test_table_position_idents_vs_spark(spark, data):
    """_table_position_idents feeds federated name substitution. Pinned
    properties, per generated statement:

    1. SOUND SPANS — every reported span slices to its identifier;
    2. COMPLETE — every table Spark's analyzer resolves is reported
       (or the scanner returns None, the safe fallback). A missed local
       table would let pushdown ship a statement that silently reads a
       same-named REMOTE table;
    3. SUBSTITUTION-SAFE — rewriting exactly the reported spans of one
       table to another changes Spark's resolution accordingly (no
       stale references left, no column/alias positions touched)."""
    from beacon_spark.engine import _literal_spans, _table_position_idents

    stmt, used = data
    real_tables = _scan_views(spark)
    assert real_tables(stmt) == used  # generator sanity
    got = _table_position_idents(stmt, _literal_spans(stmt))
    if got is None:
        return  # conservative fallback — always safe
    names = {ident.lower() for ident, _, _ in got}
    for ident, s, e in got:
        assert stmt[s:e] == ident
    assert used <= names, f"scanner missed tables in: {stmt!r}"
    target = next(iter(used))
    repl = "tbl_pb" if target != "tbl_pb" else "tbl_pa"
    edits = sorted(
        [(s, e) for ident, s, e in got if ident.lower() == target],
        reverse=True,
    )
    new_stmt = stmt
    for s, e in edits:
        new_stmt = new_stmt[:s] + repl + new_stmt[e:]
    assert target not in real_tables(new_stmt), (
        f"substituting {target}->{repl} left a live reference: {new_stmt!r}"
    )


@st.composite
def _order_limit_stmt(draw):
    lit = draw(st.sampled_from([
        "''", "' ORDER BY zz '", "'LIMIT 5'", "'\\' order by x '",
        "'a''b ORDER BY c'",
    ]))
    inner = draw(st.sampled_from(
        ["tbl_pa", "(SELECT c1, c2 FROM tbl_pa ORDER BY c2 DESC LIMIT 3)"]))
    core = f"SELECT c1, c2 FROM {inner} t WHERE CAST(c2 AS STRING) != {lit}"
    has_order = draw(st.booleans())
    stmt = core
    lim = off = None
    if has_order:
        stmt += " ORDER BY c1 DESC"
        if draw(st.booleans()):
            lim = draw(st.integers(1, 3))
            stmt += f" LIMIT {lim}"
            if draw(st.booleans()):
                off = draw(st.integers(0, 2))
                stmt += f" OFFSET {off}"
    stmt += draw(st.sampled_from(["", " -- order by trailing", ";"]))
    return stmt, has_order


@settings(max_examples=40, deadline=None)
@given(data=_order_limit_stmt())
def test_split_order_limit_vs_spark(spark, data):
    """_split_order_limit peels the * REPLACE ordering tail. Property:
    the peel fires exactly when a TOP-LEVEL ORDER BY exists (literals,
    subquery tails, and trailing comments never trigger it), and
    re-assembling core + peeled pieces evaluates to the same rows as
    the original statement."""
    from beacon_spark.engine import _split_order_limit

    stmt, has_order = data
    _scan_views(spark)
    core, oc, lim, off = _split_order_limit(stmt)
    if not has_order:
        assert (core, oc, lim, off) == (stmt, None, None, None)
        return
    assert oc is not None, f"missed top-level ORDER BY in: {stmt!r}"
    rebuilt = f"{core} ORDER BY {oc}"
    if lim is not None:
        rebuilt += f" LIMIT {lim}"
    if off is not None:
        rebuilt += f" OFFSET {off}"
    want = [tuple(r) for r in spark.sql(stmt).collect()]
    got = [tuple(r) for r in spark.sql(rebuilt).collect()]
    assert got == want, f"peel changed semantics: {stmt!r} -> {rebuilt!r}"


_SPLIT_ITEMS = [
    "f(a, b)",
    "'x,y'",
    "'a''b,c'",
    "(1, 2)",
    "c1 + 1",
    "'esc\\',q'",
    "`we,ird`",
    "g(h(i, 'j,k'), l)",
    "x /* c,d */",
]


@settings(max_examples=60, deadline=None)
@given(items=st.lists(st.sampled_from(_SPLIT_ITEMS), min_size=1, max_size=5))
def test_split_top_level_reconstruction(items):
    """_split_top_level splits UPDATE SET lists and macro args: joining
    comma-free-at-top-level items and splitting returns exactly the
    items — commas inside literals (incl. backslash-escaped quotes and
    '' doubling), nested calls, parens, backtick identifiers, and
    block comments never split. (A LINE comment correctly swallows a
    same-line separator — that's Spark's lexing too, so it's excluded
    from the rotation.)"""
    from beacon_spark.engine import _split_top_level

    s = ", ".join(items)
    assert _split_top_level(s) == [i.strip() for i in items]


def test_remote_query_guard_and_engine_rewrite_stay_paired(spark, tmp_path):
    """r11 guard review: a read-only call refuses remote_query where the
    engine's rewrite binds it, so a spelling the rewrite does not bind
    (comment between name and paren) must reach Spark as an unknown
    function and fail loudly, never executing the remote payload."""
    import pytest as _pytest

    from beacon_spark.auth import WriteRefused
    from beacon_spark.engine import Engine

    plain = "SELECT * FROM remote_query('r', 'DROP TABLE t')"
    sneaky = "SELECT * FROM remote_query/*c*/('r', 'DROP TABLE t')"
    eng = Engine(spark, datasets_root=str(tmp_path))
    with _pytest.raises(WriteRefused):
        eng.sql(plain, read_only=True)
    # the rewrite does not bind the comment form: Spark refuses it
    with _pytest.raises(Exception) as e:
        eng.sql(sneaky)
    msg = str(e.value).lower()
    assert ("could not resolve" in msg or "unresolved" in msg
            or "cannot be resolved" in msg or "not found" in msg), msg
    # a literal containing the call shape is data: it reads back and no
    # remote is contacted (none is attached)
    assert eng.sql("SELECT 'remote_query(x)' AS s",
                   read_only=True).collect()[0].s == "remote_query(x)"
