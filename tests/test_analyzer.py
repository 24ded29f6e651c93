from lucenenet_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer


def test_stopword_set_is_the_reference_33():
    assert len(ENGLISH_STOP_WORDS) == 33
    assert {"the", "of", "and", "a", "with", "will", "was"} <= ENGLISH_STOP_WORDS
    assert "heart" not in ENGLISH_STOP_WORDS


def test_tokenize_basic():
    a = StandardAnalyzer()
    assert a.tokenize("Tiger, tiger burning bright") == ["tiger", "tiger", "burning", "bright"]
    # digits kept, punctuation splits, underscore splits (not a token char)
    assert a.tokenize("foo_bar 42x  a-b") == ["foo", "bar", "42x", "a", "b"]
    assert a.tokenize("") == []
    assert a.tokenize(None if False else "   ") == []


def test_max_token_length_cap():
    a = StandardAnalyzer()
    long_tok = "x" * 256
    ok_tok = "y" * 255
    assert a.tokenize(f"{long_tok} {ok_tok}") == [ok_tok]


def test_analyze_positions_preserve_gaps():
    a = StandardAnalyzer()
    toks, poss = a.analyze("the quick fox of the forest")
    # pre-stop positions: the(0) quick(1) fox(2) of(3) the(4) forest(5)
    assert toks == ["quick", "fox", "forest"]
    assert poss == [1, 2, 5]


def test_apostrophe_splits():
    # "water'd" -> water, d (our tokenizer splits on apostrophe; the
    # reference's UAX#29 does the same for non-possessive cases)
    a = StandardAnalyzer()
    assert a.tokenize("water'd heaven") == ["water", "d", "heaven"]


def test_unicode_tokens():
    a = StandardAnalyzer()
    # IDEOGRAPHIC class (StandardTokenizer.cs:84-102): one token per Han char
    assert a.tokenize("Köln Zürich 北京 data") == ["köln", "zürich", "北", "京", "data"]


def test_analyze_flat_arrow_equivalent_to_analyze():
    import pyarrow as pa
    import random
    from lucenenet_spark.analysis.analyzer import analyze_flat_arrow

    rng = random.Random(11)
    vocab = ["the", "tiger", "of", "Data", "X" * 256, "forest", "a", "Köln", "42", "北京"]
    texts = []
    for _ in range(60):
        n = rng.randint(0, 12)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    texts += [None, "", "  , ! ", "the of and to", "water'd under_score"]
    a = StandardAnalyzer()
    codes, uniques, doc_idx, positions, doclens = analyze_flat_arrow(pa.array(texts), a)
    tokens = uniques[codes] if len(codes) else codes
    for i, t in enumerate(texts):
        ref = a.analyze(t or "")
        m = doc_idx == i
        assert list(tokens[m]) == ref.tokens, f"doc {i}: {tokens[m]} != {ref.tokens}"
        assert list(positions[m]) == ref.positions, f"doc {i}"
        assert doclens[i] == len(ref.tokens)
    # sorted unique dictionary
    assert list(uniques) == sorted(set(uniques))


def _assert_arrow_matches_analyze(a, texts):
    import pyarrow as pa

    from lucenenet_spark.analysis.analyzer import (
        analyze_flat_arrow,
        arrow_fast_path_for,
    )

    assert arrow_fast_path_for(a)
    codes, uniques, doc_idx, positions, doclens = analyze_flat_arrow(
        pa.array(texts), a
    )
    tokens = uniques[codes] if len(codes) else codes
    for i, t in enumerate(texts):
        ref = a.analyze(t or "")
        m = doc_idx == i
        assert list(tokens[m]) == ref.tokens, f"doc {i}: {list(tokens[m])} != {ref.tokens}"
        assert list(positions[m]) == ref.positions, f"doc {i}"
        assert doclens[i] == len(ref.tokens)


def test_whitespace_analyzer_arrow_fast_path():
    """WhitespaceAnalyzer rides the Arrow path (utf8_split_whitespace);
    tokens/positions must equal Python str.split() exactly, including
    Unicode whitespace, case preservation, and the token-length cap."""
    from lucenenet_spark.analysis.analyzer import WhitespaceAnalyzer

    texts = [
        None, "", "  Hello   World ", "a b\tc", "Tab NBSP separated",
        "thin space", "line sep", "CR\r\nLF", "MiXeD CaSe Stays",
        "under_score kept-as is,punct", "北京 大学", "x" * 300 + " ok",
        "　ideographic　space　", "nextline", "zwsp​notsplit",
    ]
    _assert_arrow_matches_analyze(WhitespaceAnalyzer(), texts)


def test_keyword_analyzer_arrow_fast_path():
    """KeywordAnalyzer rides the Arrow path: whole value = one verbatim
    token (any length, case preserved), empty/null = no token."""
    from lucenenet_spark.analysis.analyzer import KeywordAnalyzer

    texts = [None, "", "One Whole Value", "  spaces kept  ", "x" * 5000, "Köln"]
    _assert_arrow_matches_analyze(KeywordAnalyzer(), texts)


def test_custom_tokenize_override_stays_generic():
    """A user subclass overriding tokenize() WITHOUT an Arrow twin must
    drop to the generic row path (its semantics are unknown to re2)."""
    from lucenenet_spark.analysis.analyzer import arrow_fast_path_for

    class Custom(StandardAnalyzer):
        def tokenize(self, text):
            return [text[::-1]] if text else []

    assert not arrow_fast_path_for(Custom())
