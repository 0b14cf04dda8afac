"""Unit tests: SmallFloat norms, varbyte codec, tokenizer, sanitizer, parser.

These are the executable-spec pins from SURVEY.md §5 (our plan, items 1-2):
the 256-entry norm table, codec round-trips, StandardAnalyzer-parity
tokenization for the validated ASCII classes, BodyReplyRemover parity
(reference BodyReplyRemover.java:10-24), and the classic-parser subset.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from emailindexer_spark.functions.codec import (
    decode_block,
    encode_blocks,
    varbyte_decode,
    varbyte_encode,
)
from emailindexer_spark.functions.sanitize import (
    remove_quoted_replies,
    remove_quoted_replies_str,
)
from emailindexer_spark.functions.smallfloat import (
    LENGTH_TABLE,
    byte4_to_int,
    decode_lengths,
    encode_lengths,
    int_to_byte4,
)
from emailindexer_spark.functions.tokenizer import tokenize, tokenize_series
from emailindexer_spark.plans.parser import (
    MUST,
    MUST_NOT,
    SHOULD,
    Bool,
    Phrase,
    Prefix,
    Term,
    parse,
)


class TestSmallFloat:
    # Pins derived independently from Lucene 9.1 SmallFloat semantics
    # (NUM_FREE_VALUES = 255 - longToInt4(Integer.MAX_VALUE) = 24), NOT from
    # this implementation's own round-trip.

    def test_exact_through_39(self):
        # 0..23 are free values; 24..39 are exact because the tiny float is
        # exact below 16.  Lucene encodes/decodes all of 0..39 losslessly.
        for i in range(40):
            assert int_to_byte4(i) == i
            assert byte4_to_int(i) == i

    def test_first_shared_bucket_40_41(self):
        assert byte4_to_int(int_to_byte4(40)) == 40
        assert byte4_to_int(int_to_byte4(41)) == 40  # 41 shares 40's bucket
        assert int_to_byte4(40) == int_to_byte4(41) == 40

    def test_lucene_pinned_values(self):
        # Hand-computed from the Lucene algorithm (offset + tiny float):
        # encode(i) = 24 + ((x>>s & 7) | (s+1)<<3), x = i-24, s = bitlen(x)-4
        pins = {
            0: 0, 17: 17, 23: 23, 24: 24, 39: 39,
            40: 40,            # x=16, s=1 -> (0|16) -> 40
            56: 48,            # x=32, s=2 -> (0|24) -> 48
            100: 57,           # x=76, s=3 -> ((76>>3)&7)|(4<<3) = 33 -> 24+33
            2**31 - 1: 255,    # MAX_INT -> 24 + 231
        }
        for i, b in pins.items():
            assert int_to_byte4(i) == b, (i, int_to_byte4(i), b)

    def test_shifted_top4bit_identity(self):
        # decode(encode(i)) = 24 + top-4-bits(i-24) for i >= 24
        for i in [24, 39, 40, 41, 100, 255, 1000, 65535, 10**9]:
            x = i - 24
            s = max(0, x.bit_length() - 4)
            assert byte4_to_int(int_to_byte4(i)) == 24 + ((x >> s) << s)

    def test_table_monotone_256(self):
        assert LENGTH_TABLE.shape == (256,)
        assert (np.diff(LENGTH_TABLE) > 0).all()
        assert LENGTH_TABLE[0] == 0
        assert LENGTH_TABLE[255] == 24 + (15 << 27)  # 24 + int4ToLong(231)

    def test_vectorized_matches_scalar(self):
        arr = np.arange(0, 200000, 3)
        enc = encode_lengths(arr)
        assert [int_to_byte4(int(i)) for i in arr[:1000]] == enc[:1000].tolist()
        assert (decode_lengths(enc) == [byte4_to_int(int_to_byte4(int(i))) for i in arr]).all()

    def test_sql_mirror_identity(self):
        # The DuckDB oracles mirror decode(encode(dl)) as:
        #   dl if dl < 32 else 24 + (((dl-24) >> s) << s), s = floor(log2(dl-24)) - 3
        import math

        for dl in list(range(0, 5000)) + [65535, 10**6, 10**9]:
            if dl < 32:
                q = dl
            else:
                s = int(math.floor(math.log2(dl - 24))) - 3
                q = 24 + (((dl - 24) >> s) << s)
            assert q == byte4_to_int(int_to_byte4(dl)), dl


class TestPositionsCodec:
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=6),  # tf
                st.integers(min_value=0, max_value=4000),  # base pos
            ),
            min_size=0,
            max_size=60,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_roundtrip_segmented(self, docs):
        from emailindexer_spark.functions.codec import (
            decode_positions,
            encode_positions,
        )

        tfs = np.array([t for t, _ in docs], dtype=np.int64)
        segs = [np.sort(b + np.arange(t) * 2) for t, b in docs]
        flat = np.concatenate(segs) if segs else np.empty(0, dtype=np.int64)
        got = decode_positions(encode_positions(flat, tfs), tfs)
        assert got.tolist() == flat.tolist()


class TestVarbyte:
    @given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, vals):
        arr = np.array(vals, dtype=np.uint64)
        assert varbyte_decode(varbyte_encode(arr)).tolist() == vals

    def test_empty(self):
        assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
        assert varbyte_decode(b"").size == 0

    def test_compression_small_deltas_one_byte(self):
        assert len(varbyte_encode(np.arange(100, dtype=np.uint64) % 128)) == 100


class TestBlocks:
    def test_roundtrip_and_blockmax(self):
        rng = np.random.default_rng(7)
        docs = np.unique(rng.integers(0, 10**9, size=1000, dtype=np.int64))
        tfs = rng.integers(1, 99, size=docs.size).astype(np.int64)
        norms = rng.integers(1, 255, size=docs.size).astype(np.int64)
        eb = encode_blocks(docs, tfs, norms, block_size=128)
        got_d, got_t, got_n = [], [], []
        for i in range(len(eb.doc_bytes)):
            d, t, n = decode_block(int(eb.first_doc[i]), eb.doc_bytes[i], eb.tf_bytes[i], eb.norm_bytes[i])
            assert eb.first_doc[i] == d[0] and eb.last_doc[i] == d[-1]
            assert eb.max_tf[i] == t.max() and eb.min_norm[i] == n.min()
            assert eb.n[i] == d.size <= 128
            got_d.append(d), got_t.append(t), got_n.append(n)
        assert (np.concatenate(got_d) == docs).all()
        assert (np.concatenate(got_t) == tfs).all()
        assert (np.concatenate(got_n) == norms).all()

    def test_rejects_unsorted(self):
        with pytest.raises(ValueError):
            encode_blocks(np.array([3, 2]), np.array([1, 1]), np.array([1, 1]))


class TestTokenizer:
    def test_uax29_ascii_edges(self):
        # dotted numerics/acronyms join, mixed-class dots split,
        # apostrophes join letters only, hyphens split (SURVEY.md §7)
        assert tokenize("Don't split 2.0.26 or u.s.a but a1.b hy-phen x..y") == [
            "don't", "split", "2.0.26", "or", "u.s.a", "but", "a1", "b", "hy", "phen", "x", "y",
        ]
        assert tokenize("2'3 a'b it's") == ["2", "3", "a'b", "it's"]
        assert tokenize("") == [] and tokenize(None) == []

    def test_lowercase(self):
        assert tokenize("FOO Bar") == ["foo", "bar"]

    def test_max_len_split(self):
        t = "a" * 600
        assert tokenize(t) == ["a" * 255, "a" * 255, "a" * 90]

    def test_series_matches_scalar(self):
        texts = pd.Series(["Don't 2.0.26 a1.b", None, "", "x y z", "A" * 300])
        got = tokenize_series(texts)
        for s, g in zip(texts, got):
            assert tokenize(s) == list(g)

    @given(
        st.lists(
            st.text(
                alphabet="abcz019.' -\n\t>!,_#É",  # incl. chars outside the token classes
                max_size=60,
            ),
            max_size=8,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_series_matches_scalar_property(self, texts):
        s = pd.Series(texts, dtype=object)
        got = tokenize_series(s)
        for t, g in zip(texts, got):
            assert tokenize(t) == list(g)
        # simple mode too
        got_s = tokenize_series(s, simple=True)
        for t, g in zip(texts, got_s):
            assert tokenize(t, simple=True) == list(g)

    def test_simple_mode(self):
        assert tokenize("don't 2.0.26", simple=True) == ["don", "t", "2", "0", "26"]


class TestSanitizer:
    def test_reference_parity(self):
        # reference BodyReplyRemover: trimmed '>' lines dropped, trimmed
        # case-insensitive marker stops processing
        t = "keep\n > q1\n>q2\nKEEP 2\n  -----original message-----  \ndropped\n> also"
        assert remove_quoted_replies_str(t) == "keep\nKEEP 2\n"

    def test_series_matches_scalar(self):
        texts = pd.Series([
            "a\n> b\nc", None, "-----Original Message-----\nx", "plain",
        ])
        got = remove_quoted_replies(texts)
        for s, g in zip(texts, got):
            assert remove_quoted_replies_str(s) == g


class TestParser:
    def test_default_or(self):
        q = parse("apple banana")
        assert [(o, c.text) for o, c in q.clauses] == [(SHOULD, "apple"), (SHOULD, "banana")]

    def test_and_promotes_both(self):
        q = parse("apple AND banana")
        assert [o for o, _ in q.clauses] == [MUST, MUST]

    def test_plus_minus_not(self):
        q = parse("+a -b NOT c d")
        assert [o for o, _ in q.clauses] == [MUST, MUST_NOT, MUST_NOT, SHOULD]

    def test_phrase_prefix_group(self):
        q = parse('"a b" t* (x OR y)')
        assert isinstance(q.clauses[0][1], Phrase) and q.clauses[0][1].terms == ("a", "b")
        assert isinstance(q.clauses[1][1], Prefix) and q.clauses[1][1].prefix == "t"
        assert isinstance(q.clauses[2][1], Bool)

    def test_analysis_lowercases_and_splits(self):
        q = parse("APPLE a1.b")
        assert q.clauses[0][1].text == "apple"
        assert isinstance(q.clauses[1][1], Phrase)  # multi-token analysis

    def test_field_prefix_routes(self):
        t = parse("body:apple").clauses[0][1]
        assert t.text == "apple" and t.field == "body"
        p = parse('role:"a b"').clauses[0][1]
        assert isinstance(p, Phrase) and p.field == "role" and p.terms == ("a", "b")
        pre = parse("role:as*").clauses[0][1]
        assert isinstance(pre, Prefix) and pre.field == "role" and pre.prefix == "as"
        bare = parse("apple").clauses[0][1]
        assert bare.field is None

    def test_fuzzy_and_slop_parse(self):
        from emailindexer_spark.plans.parser import Fuzzy

        fz = parse("roam~").clauses[0][1]
        assert isinstance(fz, Fuzzy) and fz.text == "roam" and fz.max_edits == 2
        fz1 = parse("roam~1^2").clauses[0][1]
        assert isinstance(fz1, Fuzzy) and fz1.max_edits == 1 and fz1.boost == 2.0
        t0 = parse("roam~0").clauses[0][1]
        assert isinstance(t0, Term) and t0.text == "roam"
        sl = parse('"a b"~3').clauses[0][1]
        assert isinstance(sl, Phrase) and sl.slop == 3
        # phrase boosts attach through the lexer (round-2 ADVICE: they
        # used to lex as a stray ^2 token and vanish silently)
        pb = parse('"a b"^2').clauses[0][1]
        assert isinstance(pb, Phrase) and pb.boost == 2.0 and pb.slop == 0
        both = parse('"a b"~1^2').clauses[0][1]
        assert both.slop == 1 and both.boost == 2.0
        ff = parse('role:term~1').clauses[0][1]
        assert isinstance(ff, Fuzzy) and ff.field == "role"

    def test_wildcard_parses(self):
        from emailindexer_spark.plans.parser import Prefix as _P
        from emailindexer_spark.plans.parser import Wildcard

        w = parse("te?m").clauses[0][1]
        assert isinstance(w, Wildcard) and w.pattern == "te?m"
        w2 = parse("TE*M^2").clauses[0][1]
        assert isinstance(w2, Wildcard) and w2.pattern == "te*m" and w2.boost == 2.0
        w3 = parse("role:t?e*").clauses[0][1]
        assert isinstance(w3, Wildcard) and w3.field == "role"
        # trailing-star-only stays the cheaper PrefixQuery
        assert isinstance(parse("te*").clauses[0][1], _P)

    def test_unsupported_syntax_raises_loudly(self):
        # non-trailing wildcards, malformed ranges, out-of-range fuzzy
        # edits, and dangling suffix tokens are classic-parser syntax we
        # do NOT implement — silent degrade to bare terms returns
        # wrong-but-plausible results, so the parser must raise.
        import pytest as _pytest

        from emailindexer_spark.plans.parser import QueryParseError

        for bad in [
            "roam~3",         # Lucene caps fuzzy edits at 2
            "roam~0.8",       # pre-Lucene-4 float fuzziness
            "a~b",            # embedded tilde
            '"a b" ^2',       # detached boost (Lucene errors too)
            "*",              # bare star
            "*term",          # leading wildcard (Lucene default rejects)
            "?erm",
            "te–?m",          # pattern chars outside the token alphabet
            "stray]bracket",
            "[a TO",          # unterminated range
            "[a b c]",        # no TO
        ]:
            with _pytest.raises(QueryParseError):
                parse(bad)

    def test_term_range_parses(self):
        from emailindexer_spark.plans.parser import TermRange

        r = parse("[alpha TO omega]").clauses[0][1]
        assert isinstance(r, TermRange)
        assert (r.lo, r.hi, r.lo_incl, r.hi_incl) == ("alpha", "omega", True, True)
        r2 = parse("{alpha TO omega}").clauses[0][1]
        assert (r2.lo_incl, r2.hi_incl) == (False, False)
        r3 = parse("role:[a TO c]^2").clauses[0][1]
        assert r3.field == "role" and r3.boost == 2.0
        r4 = parse("[* TO m]").clauses[0][1]
        assert r4.lo is None and r4.hi == "m"
        # mixed brackets and uppercase endpoints analyzed
        r5 = parse("[Alpha TO M}").clauses[0][1]
        assert r5.lo == "alpha" and r5.hi == "m" and r5.lo_incl and not r5.hi_incl

    def test_supported_syntax_still_parses(self):
        # literal ~ [ ] inside a quoted phrase is analyzed text, not syntax
        q = parse('"a ~ [b]" pre* term^2')
        assert isinstance(q.clauses[0][1], Phrase) and q.clauses[0][1].terms == ("a", "b")
        assert isinstance(q.clauses[1][1], Prefix)
        assert q.clauses[2][1].boost == 2.0


class TestLevenshteinBatch:
    """The planner's vectorized edit-distance kernel vs a scalar
    reference DP — both metrics: classic Levenshtein (the gated one, ==
    Spark/DuckDB levenshtein()) and OSA / restricted Damerau (Lucene's
    transpositions=true primitive, shipped but not gated)."""

    @staticmethod
    def _ref(a, b, transpositions):
        m, n = len(a), len(b)
        D = [[0] * (n + 1) for _ in range(m + 1)]
        for i in range(m + 1):
            D[i][0] = i
        for j in range(n + 1):
            D[0][j] = j
        for i in range(1, m + 1):
            for j in range(1, n + 1):
                D[i][j] = min(
                    D[i - 1][j] + 1,
                    D[i][j - 1] + 1,
                    D[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                )
                if (
                    transpositions
                    and i > 1
                    and j > 1
                    and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]
                ):
                    D[i][j] = min(D[i][j], D[i - 2][j - 2] + 1)
        return D[m][n]

    def test_matches_reference_dp(self):
        import random

        import numpy as np

        from emailindexer_spark.plans.planner import _levenshtein_batch

        rng = random.Random(13)
        cands = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(0, 7)))
            for _ in range(300)
        ]
        for text in ["", "abc", "abca", "dcba", "aabbc"]:
            for tr in (False, True):
                got = _levenshtein_batch(cands, text, transpositions=tr)
                exp = np.array([self._ref(text, c, tr) for c in cands])
                bad = np.nonzero(got != exp)[0]
                assert bad.size == 0, (text, tr, [(cands[i], got[i], exp[i]) for i in bad[:3]])

    def test_transposition_credit(self):
        from emailindexer_spark.plans.planner import _levenshtein_batch

        # "ab" -> "ba": classic 2 edits, OSA 1
        assert _levenshtein_batch(["ba"], "ab", transpositions=False)[0] == 2
        assert _levenshtein_batch(["ba"], "ab", transpositions=True)[0] == 1


class TestFastTokenizerCodes:
    """tokenize_series_codes / token_counts lock-step with the regex
    tokenizer, and encode_blocks_vec bit-equality with encode_blocks —
    the r6 build-path internals."""

    def _check(self, texts, simple):
        from emailindexer_spark.functions.tokenizer import (
            token_counts,
            tokenize_series_codes,
        )

        s = pd.Series(texts, dtype=object)
        toks = tokenize_series(s, simple=simple)
        nl_ref = toks.str.len().to_numpy(np.int64)
        nl, codes, uniq = tokenize_series_codes(s, simple=simple)
        assert (nl == nl_ref).all()
        assert (token_counts(s, simple=simple) == nl_ref).all()
        flat_ref = (
            np.concatenate([t for t in toks.to_numpy() if len(t)])
            if nl_ref.sum()
            else np.empty(0, object)
        )
        flat = uniq[codes] if len(codes) else np.empty(0, object)
        assert len(flat) == len(flat_ref)
        assert all(a == b for a, b in zip(flat, flat_ref))

    def test_edge_cases(self):
        cases = [
            ["Don't stop", "u.s.a 2.0.26 a1.b", "", None, "2'3 a'b a''b 1.2 a.2"],
            ["A" * 600, ("q" * 255) + "r", "x" * 33, "x" * 32],  # 255-split + fast-max fallback
            ["é snow ☃", "ascii then", "MiXeD CaSe 42"],  # non-ASCII fallback
            [""], [None, None], ["...", "'''", "a.b'c.d"],
        ]
        for texts in cases:
            for simple in (False, True):
                self._check(texts, simple)

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abzABZ019.' \n\té", min_size=0, max_size=60),
            min_size=1,
            max_size=6,
        ),
        st.booleans(),
    )
    def test_fuzz_lockstep(self, texts, simple):
        self._check(texts, simple)

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.integers(0, 1 << 40), min_size=1, max_size=400, unique=True),
        st.integers(1, 9),
    )
    def test_encode_blocks_vec_equal(self, docs, tf_mod):
        from emailindexer_spark.functions.codec import encode_blocks, encode_blocks_vec

        d = np.sort(np.asarray(docs, dtype=np.int64))
        tfs = (d % tf_mod + 1).astype(np.int64)
        norms = (d % 256).astype(np.int64)
        for bs in (3, 128):
            a = encode_blocks(d, tfs, norms, block_size=bs)
            b = encode_blocks_vec(d, tfs, norms, block_size=bs)
            assert (a.first_doc == b.first_doc).all()
            assert (a.last_doc == b.last_doc).all()
            assert (a.n == b.n).all()
            assert (a.max_tf == b.max_tf).all()
            assert (a.min_norm == b.min_norm).all()
            assert a.doc_bytes == b.doc_bytes
            assert a.tf_bytes == b.tf_bytes
            assert a.norm_bytes == b.norm_bytes


class TestFrameDecode:
    """The frame decoders (codec._decode_frame_*)
    must equal the per-block reference decode for ANY mix of terms,
    rows and block sizes (multi-row terms, single-byte and multi-byte
    varbyte deltas, segment-boundary leak correction)."""

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(0, 1 << 40), min_size=1, max_size=120, unique=True),
            min_size=1,
            max_size=6,
        ),
        st.integers(1, 9),
    )
    def test_frame_decode_matches_per_block(self, doc_lists, tf_mod):
        from emailindexer_spark.functions.codec import decode_block, encode_blocks_vec
        from emailindexer_spark.functions.codec import (
            _decode_frame_docs,
            _decode_frame_postings,
        )

        rows = []
        for j, docs in enumerate(doc_lists):
            d = np.sort(np.asarray(docs, dtype=np.int64))
            tfs = (d % tf_mod + 1).astype(np.int64)
            norms = (d % 256).astype(np.int64)
            eb = encode_blocks_vec(d, tfs, norms, block_size=3)
            rows.append(
                {
                    "term": f"t{j}",
                    "b_first": list(eb.first_doc),
                    "b_docs": eb.doc_bytes,
                    "b_tfs": eb.tf_bytes,
                    "b_norms": eb.norm_bytes,
                }
            )
        pdf = pd.DataFrame(rows)

        ref_d, ref_t, ref_n = [], [], []
        for r in pdf.itertuples(index=False):
            for i in range(len(r.b_docs)):
                d, t, n = decode_block(
                    int(r.b_first[i]), r.b_docs[i], r.b_tfs[i], r.b_norms[i]
                )
                ref_d.append(d), ref_t.append(t), ref_n.append(n)
        ref_d = np.concatenate(ref_d)

        got_d, got_t, got_n = _decode_frame_postings(pdf)
        assert (got_d == ref_d).all()
        assert (got_t == np.concatenate(ref_t)).all()
        assert (got_n == np.concatenate(ref_n)).all()
        # docs-only variant: segments recovered from continuation bits
        assert (_decode_frame_docs(pdf[["term", "b_first", "b_docs"]]) == ref_d).all()

    def test_frame_decode_empty(self):
        from emailindexer_spark.functions.codec import (
            _decode_frame_docs,
            _decode_frame_postings,
        )

        pdf = pd.DataFrame({"term": [], "b_first": [], "b_docs": [], "b_tfs": [], "b_norms": []})
        d, t, n = _decode_frame_postings(pdf)
        assert d.size == t.size == n.size == 0
        assert _decode_frame_docs(pdf).size == 0

    def test_frame_decode_rejects_empty_block(self):
        # an empty block would silently shift every later doc id
        # through the segment trick; the decoders raise instead
        from emailindexer_spark.functions.codec import (
            _decode_frame_docs,
            _decode_frame_postings,
            encode_blocks_vec,
        )

        eb = encode_blocks_vec(
            np.array([3, 9]), np.array([1, 2]), np.array([5, 6]), block_size=1
        )

        def mid_empty(blocks):
            return [blocks[0], b"", blocks[1]]

        pdf = pd.DataFrame(
            {
                "term": ["t"],
                "b_first": [[3, 5, 9]],
                "b_docs": [mid_empty(eb.doc_bytes)],
                "b_tfs": [mid_empty(eb.tf_bytes)],
                "b_norms": [mid_empty(eb.norm_bytes)],
            }
        )
        with pytest.raises(ValueError, match="zero postings"):
            _decode_frame_postings(pdf)
        with pytest.raises(ValueError, match="zero postings"):
            _decode_frame_docs(pdf)
