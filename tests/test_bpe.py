"""Deterministic byte-level BPE (functions/bpe.py, operators/
tokenize_ops.py): encoding fuzz-pinned against a reference
implementation of the published GPT-2 merge loop, ids against the
byte/256+rank assignment, and distributed training against a
pure-Python reference trainer with the same deterministic tie-break."""

from __future__ import annotations

import random

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions.bpe import (
    encode_text,
    encode_word,
    parse_merges,
)

from conftest import jobs_in_group


def _ref_bpe(word: str, ranks: dict) -> list[str]:
    """The published GPT-2 encoder.py bpe() loop, minimally."""
    toks = list(word)
    while True:
        pairs = {(toks[i], toks[i + 1]) for i in range(len(toks) - 1)}
        cand = [(r, p) for p, r in ranks.items() if p in pairs]
        if not cand:
            return toks
        _, (a, b) = min(cand)
        out, i = [], 0
        while i < len(toks):
            if i < len(toks) - 1 and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out


class TestEncoding:
    def test_closed_form_fixture(self):
        spec = "a b,ab ab,a a"
        assert encode_text("ababab aaaab", spec) == [257, 256, 258, 97, 256]
        assert encode_text("ab", spec) == [256]
        assert encode_text("b a", spec) == [98, 97]
        assert encode_text("", spec) == []
        assert encode_text("   ", spec) == []

    def test_fuzz_against_reference_gpt2_loop(self):
        rng = random.Random(3)
        pool = ["a", "b", "c", "ab", "bc", "aa", "cc", "abc", "ba"]
        for _ in range(2000):
            word = "".join(rng.choice("abc") for _ in range(rng.randint(1, 14)))
            merges, seen = [], set()
            for _ in range(rng.randint(0, 6)):
                p = (rng.choice(pool), rng.choice(pool))
                if p not in seen:
                    seen.add(p)
                    merges.append(p)
            ranks = {p: i for i, p in enumerate(merges)}
            assert encode_word(word.encode(), ranks) == _ref_bpe(word, ranks)

    def test_utf8_bytes_and_ids(self):
        # 'é' is two UTF-8 bytes (0xC3 0xA9); a merge fusing them gets
        # id 256; unmerged multi-byte chars stay as their byte ids
        assert encode_text("é", "Ã ©") == [256]
        assert encode_text("é", "x y") == [0xC3, 0xA9]

    def test_parse_merges_gates(self):
        with pytest.raises(ValueError):
            parse_merges("justoneside")
        with pytest.raises(ValueError):
            parse_merges("a b,a b")  # duplicate entry
        with pytest.raises(ValueError):
            parse_merges("a b c")  # three sides
        ranks, ids = parse_merges("a b\nab ab")  # newline format
        assert ranks == {("a", "b"): 0, ("ab", "ab"): 1}
        assert ids == {"ab": 256, "abab": 257}

    def test_sql_surface_null_safety(self, spark):
        rows = spark.sql(
            "SELECT bpe_token_count(t, m) AS n, bpe_token_ids(t, m) AS ids"
            " FROM VALUES"
            " ('ababab aaaab', 'a b,ab ab,a a'),"
            " (CAST(NULL AS STRING), 'a b'),"
            " ('abc', CAST(NULL AS STRING)),"
            " ('abc', 'malformed'),"
            " ('', 'a b')"
            " AS t(t, m)"
        ).collect()
        assert rows[0]["n"] == 5 and rows[0]["ids"] == [257, 256, 258, 97, 256]
        assert rows[1]["n"] is None and rows[1]["ids"] is None
        assert rows[2]["n"] is None and rows[2]["ids"] is None
        assert rows[3]["n"] is None and rows[3]["ids"] is None
        assert rows[4]["n"] == 0 and rows[4]["ids"] == []


def _ref_train(corpus: list[str], n_merges: int, min_freq: int = 2):
    """Reference trainer: full recount each round, argmax with the
    (count desc, pair asc) tie-break."""
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        ranks = {p: i for i, p in enumerate(merges)}
        counts: dict[tuple[str, str], int] = {}
        for text in corpus:
            for word in text.split():
                toks = encode_word(word.encode(), ranks)
                for pr in zip(toks, toks[1:]):
                    counts[pr] = counts.get(pr, 0) + 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        merges.append(best[0])
    return merges


class TestDistributedTraining:
    def test_matches_reference_trainer(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            bpe_train,
        )

        corpus = [
            "low lower lowest",
            "new newer newest newest",
            "wide wider widest",
            "low low low",
            None,
        ]
        df = spark.createDataFrame([(t,) for t in corpus], ["txt"])
        got = bpe_train(df, "txt", 8)
        want = _ref_train([t for t in corpus if t is not None], 8)
        assert got == want
        assert len(got) == 8  # this corpus supports all 8 rounds

    def test_min_freq_stops_early_and_budget_gates(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            _MAX_TRAIN_MERGES,
            bpe_train,
        )

        df = spark.createDataFrame([("ab cd",)], ["txt"])
        # every pair occurs once: min_freq=2 learns nothing
        assert bpe_train(df, "txt", 5) == []
        with pytest.raises(ValueError):
            bpe_train(df, "txt", _MAX_TRAIN_MERGES + 1)

    def test_malformed_spec_fails_loudly(self, spark, monkeypatch):
        """A spec the UDF cannot parse comes back as NULL pairs, which
        would end training with a silently short merge list."""
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators import (
            tokenize_ops,
        )

        monkeypatch.setattr(tokenize_ops, "_serialize_merges", lambda merges: "a")
        df = spark.createDataFrame([("aa aa aa",)], ["txt"])
        with pytest.raises(ValueError, match="malformed merge entry"):
            tokenize_ops.bpe_train(df, "txt", 2)

    def test_trained_merges_round_trip_through_encoder(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            _serialize_merges,
            bpe_train,
        )

        df = spark.createDataFrame(
            [("the them theme",), ("the then there",)], ["txt"]
        )
        merges = bpe_train(df, "txt", 4)
        spec = _serialize_merges(merges)
        ids = encode_text("theme", spec)
        # 'the' must have fused into one token on this corpus
        ranks, _ = parse_merges(spec)
        assert "".join(encode_word(b"the", ranks)) == "the"
        assert len(encode_word(b"the", ranks)) == 1
        assert ids[0] >= 256


# word pieces: ASCII, 2-byte (both 0xC3-led, so their byte pairs tie on
# the lead byte) and 3-byte UTF-8, joined by whitespace Python's split
# honours but Java's \s does not (NBSP, ideographic space)
_PIECES = ["a", "b", "ab", "ba", "c", "é", "ü", "中", "aé", "éa"]
_SEPS = [" ", "  ", "\t", "\n", "\xa0", "\u3000"]
_MIRROR = str.maketrans("éü", "üé")


def _random_corpus(rng: random.Random) -> list:
    rows: list = [None, "", " \xa0\u3000 "]
    for _ in range(rng.randint(3, 25)):
        words = [
            "".join(rng.choice(_PIECES) for _ in range(rng.randint(1, 4)))
            for _ in range(rng.randint(1, 6))
        ]
        text = "".join(w + rng.choice(_SEPS) for w in words)
        # deliberate count ties between pairs whose sides lie above
        # 0x7f: every text comes with its 'é' <-> 'ü' mirror, so each
        # pair with 0xA9 has a twin with 0xBC at the same count
        rows += [text, text.translate(_MIRROR)]
    # ... and a block of both letters keeps that tie near the top
    rows += ["é\xa0ü"] * rng.randint(20, 40)
    rng.shuffle(rows)
    return rows


class TestWordCountTraining:
    """The trainer's result is a function of the corpus's word multiset:
    equal to the reference trainer on random corpora, whatever the
    partitioning and row order, and its job count does not grow with
    the number of merges."""

    def test_random_corpora_match_reference_at_any_partitioning(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            bpe_train,
        )

        rng = random.Random(176)
        for i in range(20):
            corpus = _random_corpus(rng)
            n_merges = rng.randint(1, 12)
            min_freq = (1, 2, 3, 5)[i % 4]
            want = _ref_train(
                [t for t in corpus if t is not None], n_merges, min_freq
            )
            for k in (1, 3, 7):
                rows = corpus[:]
                rng.shuffle(rows)
                df = spark.createDataFrame(
                    [(t,) for t in rows], "txt string"
                ).repartition(k)
                got = bpe_train(df, "txt", n_merges, min_freq)
                assert got == want, (i, k, min_freq)

    def test_job_count_does_not_grow_with_merges(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            bpe_train,
        )

        corpus = ["low lower lowest", "new newer newest newest", "low low low"]
        df = spark.createDataFrame([(t,) for t in corpus], "txt string")
        one, jobs_one = jobs_in_group(spark, lambda: bpe_train(df, "txt", 1))
        eight, jobs_eight = jobs_in_group(spark, lambda: bpe_train(df, "txt", 8))
        assert len(one) == 1 and len(eight) == 8
        assert jobs_eight == jobs_one <= 2

    def test_null_and_blank_texts_contribute_no_words(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            bpe_train,
        )

        nulls = spark.createDataFrame([(None,)] * 5, "txt string")
        assert bpe_train(nulls, "txt", 4) == []
        blanks = spark.createDataFrame(
            [(None,), ("",), (" \xa0\u3000\t",), ("aa aa",)], "txt string"
        )
        assert bpe_train(blanks, "txt", 4) == [("a", "a")]


class TestWireFormatEscaping:
    """code-review r14: trained merge sides containing commas or
    latin-1 whitespace bytes (0xA0 NBSP, 0x85 NEL) must round-trip
    through the wire format."""

    def test_comma_and_nbsp_sides_round_trip(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.bpe import (
            escape_token,
            unescape_token,
        )
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            _serialize_merges,
        )

        merges = [(",", "y"), ("\xc3", "\xa0"), ("a%", "b,c")]
        spec = _serialize_merges(merges)
        ranks, ids = parse_merges(spec)
        assert list(ranks) == merges
        assert ids[",y"] == 256 and ids["\xc3\xa0"] == 257
        for side in (",", "\xa0", "\x85", "%", "a b", "\n"):
            assert unescape_token(escape_token(side)) == side

    def test_trained_comma_merges_encode(self, spark):
        from sql_interface_to_xml_database_for_spatial_operations_spark.operators.tokenize_ops import (
            _serialize_merges,
            bpe_train,
        )

        df = spark.createDataFrame([("x,y x,y x,y",)], ["txt"])
        merges = bpe_train(df, "txt", 3)
        assert merges  # pairs involving ',' were learnable
        spec = _serialize_merges(merges)
        ids = encode_text("x,y", spec)
        assert ids and all(isinstance(i, int) for i in ids)
        # the accented-letter byte pair (0xC3 0xA0 = 'à') round-trips
        df2 = spark.createDataFrame([("àà àà àà",)], ["txt"])
        merges2 = bpe_train(df2, "txt", 1)
        assert merges2 == [("\xc3", "\xa0")]
        assert encode_text("à", _serialize_merges(merges2)) == [256]
