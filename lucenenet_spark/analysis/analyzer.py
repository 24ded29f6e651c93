"""The default analysis chain: tokenize -> lowercase -> stop-filter.

Modeled on the reference's StandardAnalyzer pipeline
(src/Lucene.Net.Analysis.Common/Analysis/Standard/StandardAnalyzer.cs:102-108
= StandardTokenizer -> StandardFilter(no-op) -> LowerCaseFilter -> StopFilter)
but defined from scratch for cross-engine parity:

- **Tokens** are maximal runs of Unicode letters/digits (underscore excluded)
  of the lowercased text. This matches the reference tokenizer on
  alphanumeric ASCII text (its UAX#29 ALPHANUM class); we intentionally
  express it as ONE regex that has identical semantics in Python ``re``
  (``[^\\W_]+``), Java regex used by Spark (``[\\p{L}\\p{N}]+``) and RE2 used
  by DuckDB (``[\\pL\\pN]+``) so the Spark plan, the pandas kernel and the SQL
  oracle all tokenize identically.
- Tokens longer than 255 chars are dropped (StandardAnalyzer.cs:52
  DEFAULT_MAX_TOKEN_LENGTH; the reference truncates the stream at maxlen by
  discarding over-long tokens).
- The 33-word English stop set is the reference's
  (Analysis/Core/StopAnalyzer.cs:52-58), applied after lowercasing.
- Positions: the StopFilter preserves position increments
  (Analysis/Core/StopFilter.cs:38), so surviving tokens keep their
  pre-stop-filter position. Field length for norms is the POST-stop token
  count (DocInverterPerField.cs:160,197 with no 0-increment tokens in this
  chain — SURVEY.md §2.1).

Everything is vectorized over pandas Series — these functions run inside
``mapInPandas`` on Arrow batches, never per-row Python UDFs.
"""

from __future__ import annotations

import importlib
import re
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

MAX_TOKEN_LENGTH = 255

# Unicode tokenizer, UAX#29-style word classes (StandardTokenizer.cs:54-105):
# - IDEOGRAPHIC/HIRAGANA (StandardTokenizer.cs:84-102): each Han or Hiragana
#   character is its OWN single-char token
# - KATAKANA: maximal Katakana runs are one token, and a run never joins an
#   adjacent Latin/digit run
# - everything else: maximal letter/digit runs (ALPHANUM/NUM/HANGUL classes;
#   underscore excluded)
# The same semantics are expressed twice: one Python regex (findall), and a
# two-step Arrow pipeline (space-pad the CJK classes, then split on
# non-letter/digit) — asserted identical by tests/test_analyzer.py.
_IDEO_RANGES = "\u3040-\u309f\u3400-\u4dbf\u4e00-\u9fff\uf900-\ufaff"  # Hiragana + Han
_KATAKANA = "\u30a0-\u30ff"


def _mark_ranges_class() -> str:
    """Regex character-class body covering every BMP combining mark
    (general category M*). UAX#29 WordBreak treats marks as Extend \u2014
    they continue the word they follow (StandardTokenizer.cs keeps
    Devanagari matras, Arabic harakat, Hebrew points inside tokens).
    Python's ``\\w`` excludes them, so the class is generated from
    unicodedata once at import and appended to the word-run production;
    the RE2/Java forms use ``\\p{M}`` natively (identical over the BMP,
    asserted by tests/test_analyzer.py's Python-vs-Arrow parity)."""
    import unicodedata

    ranges: list[tuple[int, int]] = []
    for cp in range(0x10000):
        if unicodedata.category(chr(cp)).startswith("M"):
            if ranges and ranges[-1][1] == cp - 1:
                ranges[-1] = (ranges[-1][0], cp)
            else:
                ranges.append((cp, cp))
    return "".join(
        chr(a) if a == b else f"{chr(a)}-{chr(b)}" for a, b in ranges
    )


_MARKS = _mark_ranges_class()
TOKEN_RE_PYTHON = (
    rf"[{_IDEO_RANGES}]|[{_KATAKANA}]+"
    rf"|(?:(?![{_IDEO_RANGES}{_KATAKANA}])(?:[^\W_]|[{_MARKS}]))+"
)
# RE2 (pyarrow) pre-pad pattern: isolate each ideograph / katakana run with
# spaces so the plain letter/digit split then yields the same tokens
CJK_PAD_RE2 = f"([{_IDEO_RANGES}]|[{_KATAKANA}]+)"
TOKEN_RE_SQL = r"[\p{L}\p{M}\p{N}]+"   # Java (Spark) and RE2 (DuckDB) run form
SPLIT_RE_RE2 = r"[^\p{L}\p{M}\p{N}]+"  # RE2 split form (pyarrow compute)

# ASCII-restricted variant: maximal [a-z0-9] runs of the LOWERCASED text.
# Identical in every engine's regex dialect (no Unicode classes involved) —
# used when the index must agree bit-for-bit with an external SQL oracle
# whose tokenizer is the plain split ``[^a-z0-9]+`` (__spark_entry__.py).
# On pure-ASCII alphanumeric text it equals the Unicode tokenizer.
TOKEN_RE_PYTHON_ASCII = r"[a-z0-9]+"
SPLIT_RE_RE2_ASCII = r"[^a-z0-9]+"

_TOKEN_PATTERN = re.compile(TOKEN_RE_PYTHON, re.UNICODE)
_TOKEN_PATTERN_ASCII = re.compile(TOKEN_RE_PYTHON_ASCII)

# Reference stop set: StopAnalyzer.cs:52-58 (33 words).
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)


class Analyzed(NamedTuple):
    tokens: list[str]
    positions: list[int]  # pre-stop-filter positions (gaps where stopwords were)


class StandardAnalyzer:
    #: chains whose tokenize/stop semantics are expressible as ONE re2
    #: split (split_re_re2 + optional CJK pad) ride the Arrow C++ kernel in
    #: analyze_flat_arrow; others drop to the row-at-a-time fallback.
    #: This is the CAPABILITY flag, honored for subclasses too: a custom
    #: chain that only overrides term_filter_unique (the stemmer/pack hook)
    #: inherits the fast path. The effective gate is arrow_fast_path_for():
    #: a subclass that overrides tokenize() is AUTO-detected and dropped to
    #: the generic row path (its semantics aren't the re2 split); set this
    #: False explicitly for chains that diverge in other ways.
    arrow_fast_path = True
    #: pad CJK classes before the split (UAX#29 single-char ideograph
    #: tokens) — letter-run analyzers (Simple/Stop) switch this off
    cjk_pad = True

    def __init__(
        self,
        stop_words: frozenset[str] = ENGLISH_STOP_WORDS,
        max_token_length: int = MAX_TOKEN_LENGTH,
        ascii_only: bool = False,
    ):
        self.stop_words = stop_words
        self.max_token_length = max_token_length
        self.ascii_only = ascii_only
        self._pattern = _TOKEN_PATTERN_ASCII if ascii_only else _TOKEN_PATTERN
        self.split_re_re2 = SPLIT_RE_RE2_ASCII if ascii_only else SPLIT_RE_RE2

    def term_filter_unique(self, uniques: np.ndarray) -> np.ndarray | None:
        """Vectorized-over-VOCABULARY term rewrite hook (TokenFilter
        analogue for filters that map token -> token, e.g. a stemmer).
        Called with the batch's UNIQUE terms after dictionary encoding, so
        per-term Python cost amortizes over term frequency. None = no
        rewrite (the default chain)."""
        return None

    def tokenize(self, text: str) -> list[str]:
        """Lowercase + split into letter/digit runs; drop over-long tokens.
        No stop filtering (the StringField/keyword analogue of raw terms)."""
        if not text:
            return []
        toks = self._pattern.findall(text.lower())
        ml = self.max_token_length
        return [t for t in toks if len(t) <= ml]

    def tokenize_arrow(self, texts):
        """Arrow-native tokenization of a whole string column -> ListArray
        of RAW tokens (empty-string artifacts and over-long tokens are
        dropped downstream by analyze_flat_arrow's shared filter). The
        default is the one-re2-split equivalent of :meth:`tokenize`;
        shipped chains with different split semantics (Whitespace, Keyword)
        override it with their own Arrow expression — an override DECLARES
        Arrow/Python tokenize equivalence, which the suite asserts."""
        import pyarrow.compute as pc

        low = pc.utf8_lower(texts)
        if not self.ascii_only and self.cjk_pad:
            # UAX#29 CJK classes: isolate ideographs / katakana runs so the
            # letter/digit split emits them as their own tokens (identical
            # to the TOKEN_RE_PYTHON alternation)
            low = pc.replace_substring_regex(
                low, pattern=CJK_PAD_RE2, replacement=" \\1 "
            )
        return pc.split_pattern_regex(low, self.split_re_re2)

    def analyze(self, text: str) -> Analyzed:
        """Full chain with positions. Position = index in the pre-stop token
        stream, so phrase matching sees the same gaps the reference does."""
        toks = self.tokenize(text)
        sw = self.stop_words
        out_t: list[str] = []
        out_p: list[int] = []
        for pos, t in enumerate(toks):
            if t not in sw:
                out_t.append(t)
                out_p.append(pos)
        return Analyzed(out_t, out_p)

    def analyze_query(self, text: str) -> list[str]:
        """Query-side analysis (same chain, positions unneeded)."""
        return self.analyze(text).tokens


class TermFilterAnalyzer(StandardAnalyzer):
    """A language pack's chain: StandardTokenizer -> LowerCase ->
    StopFilter -> the pack's term function (its stemmer or normalizer,
    ``str -> str``). The reference builds each
    ``Analysis/<Lang>/<Lang>Analyzer.cs`` as this same chain; every pack
    module's docstring cites its reference chain and where it diverges.
    :data:`LANGUAGE_PACKS` names each pack's module, stop set and term
    function.

    Indexing stays on the Arrow fast path: tokenize/lower/stop run in C++
    and the term function applies per UNIQUE term at dictionary-encode
    time (term_filter_unique), so Python cost is per vocabulary entry per
    batch, not per token. The query side (analyze) calls the same
    function. ``term`` is a module-level function, so the chain pickles by
    reference to the executors."""

    #: the LANGUAGE_PACKS row whose term function a subclass binds
    pack: str | None = None

    def __init__(
        self,
        stop_words: frozenset[str] = ENGLISH_STOP_WORDS,
        max_token_length: int = MAX_TOKEN_LENGTH,
        ascii_only: bool = False,
        term: Callable[[str], str] | None = None,
    ):
        super().__init__(stop_words, max_token_length, ascii_only)
        self.term = term if term is not None else load_pack(self.pack)[0]

    def term_filter_unique(self, uniques: np.ndarray) -> np.ndarray:
        """The term function per unique term; namespaced "<field>:<value>"
        postings pass through (keyword values stay verbatim, and
        encode_terms applies the chain to text-field suffixes itself)."""
        term = self.term
        out = np.empty(len(uniques), dtype=object)
        for i, t in enumerate(uniques):
            out[i] = t if ":" in t else term(t)
        return out

    def analyze(self, text: str) -> Analyzed:
        a = super().analyze(text)
        return Analyzed([self.term(t) for t in a.tokens], a.positions)


class EnglishAnalyzer(TermFilterAnalyzer):
    """EnglishAnalyzer (Analysis/En/EnglishAnalyzer.cs chain minus the
    possessive filter): StandardTokenizer -> LowerCase -> StopFilter ->
    PorterStemFilter (Analysis/En/PorterStemFilter.cs). Divergence note:
    the reference's UAX#29 tokenizer keeps "dog's" as one token for the
    possessive filter to strip; our tokenizer already splits on the
    apostrophe ("dog", "s"), so no possessive filter exists or is needed.
    Stops the set it is given (English by default)."""

    pack = "english"


class ASCIIFoldingAnalyzer(TermFilterAnalyzer):
    """StandardTokenizer -> LowerCase -> StopFilter -> ASCIIFolding
    (Analysis/Miscellaneous/ASCIIFoldingFilter.cs): accented/decomposable
    tokens fold to their ASCII base forms ("café" -> "cafe", "naïve" ->
    "naive"), unmapped scripts pass through. Folding runs AFTER the stop
    filter (same slot as the Porter stemmer), so an accented stopword
    variant ("thé") is folded, not stop-filtered — a documented divergence
    from reference chains that place the filter before StopFilter."""

    pack = "ascii_folding"


class KeywordAnalyzer(StandardAnalyzer):
    """KeywordAnalyzer (Analysis/Core/KeywordAnalyzer.cs): the entire input
    is ONE token, unanalyzed — the StringField chain. Rides the Arrow fast
    path via a trivial tokenize_arrow (0/1-length lists, no lowercase, no
    token-length cap — the value stays verbatim)."""

    def __init__(self):
        super().__init__(stop_words=frozenset())
        # no cap: the whole value IS the token, any length (tokenize()
        # never applied one; the Arrow path's shared cap filter must agree)
        self.max_token_length = 1 << 31

    def tokenize(self, text: str) -> list[str]:
        return [text] if text else []

    def tokenize_arrow(self, texts):
        import pyarrow as pa
        import pyarrow.compute as pc

        keep = pc.fill_null(pc.not_equal(texts, ""), False)
        values = texts.filter(keep)
        offs = np.concatenate(
            [[0], np.cumsum(keep.to_numpy(zero_copy_only=False).astype(np.int32))]
        ).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offs, pa.int32()), values)

    def analyze(self, text: str) -> Analyzed:
        toks = self.tokenize(text)
        return Analyzed(toks, list(range(len(toks))))


class WhitespaceAnalyzer(StandardAnalyzer):
    """WhitespaceAnalyzer (Analysis/Core/WhitespaceAnalyzer.cs): split on
    whitespace only, no lowercasing, no stop filter. Rides the Arrow fast
    path via ``utf8_split_whitespace`` (utf8proc UNICODE whitespace, which
    re2's ASCII \\s could not express — the reason this chain used to be
    generic); run-collapse edge artifacts ('' at ends) are dropped by the
    shared downstream filter, so tokens and positions match Python
    str.split() exactly (asserted by the suite's equivalence test)."""

    def __init__(self, max_token_length: int = MAX_TOKEN_LENGTH):
        super().__init__(stop_words=frozenset(), max_token_length=max_token_length)

    def tokenize(self, text: str) -> list[str]:
        if not text:
            return []
        ml = self.max_token_length
        return [t for t in text.split() if len(t) <= ml]

    def tokenize_arrow(self, texts):
        import pyarrow.compute as pc

        return pc.utf8_split_whitespace(texts)


_LETTERS_ONLY: re.Pattern | None = None


def _letters_pattern() -> re.Pattern:
    """Python regex matching maximal Unicode LETTER runs (category L only)
    — the row-path twin of the re2 ``[^\\p{L}]+`` split and the reference's
    ``Char.IsLetter`` (Analysis/Core/LetterTokenizer.cs). ``[^\\W\\d_]``
    alone would also admit the Nl/No number letters (Ⅻ, ①, ㊷ — 1131
    codepoints) that both the re2 fast path and the reference reject, so
    those are excluded via ranges derived from unicodedata at first use
    (lazy: the Arrow path never needs this pattern)."""
    global _LETTERS_ONLY
    if _LETTERS_ONLY is None:
        import unicodedata

        parts: list[tuple[int, int]] = []
        start = prev = None
        for cp in range(0x110000):
            if unicodedata.category(chr(cp)) in ("Nl", "No"):
                if prev == cp - 1:
                    prev = cp
                else:
                    if start is not None:
                        parts.append((start, prev))
                    start = prev = cp
        if start is not None:
            parts.append((start, prev))
        cls = "".join(
            re.escape(chr(a)) + (f"-{re.escape(chr(b))}" if b > a else "")
            for a, b in parts
        )
        _LETTERS_ONLY = re.compile(rf"[^\W\d_{cls}]+", re.UNICODE)
    return _LETTERS_ONLY


class SimpleAnalyzer(StandardAnalyzer):
    """SimpleAnalyzer (Analysis/Core/SimpleAnalyzer.cs): maximal letter runs,
    lowercased — digits split tokens (unlike StandardAnalyzer). Arrow fast
    path: ONE re2 split on non-letters (no CJK pad — letter runs join
    ideographs, matching the Python pattern)."""

    cjk_pad = False

    def __init__(self, max_token_length: int = MAX_TOKEN_LENGTH):
        super().__init__(stop_words=frozenset(), max_token_length=max_token_length)
        self.split_re_re2 = r"[^\p{L}]+"

    def tokenize(self, text: str) -> list[str]:
        if not text:
            return []
        ml = self.max_token_length
        return [t for t in _letters_pattern().findall(text.lower()) if len(t) <= ml]


class StopAnalyzer(StandardAnalyzer):
    """StopAnalyzer (Analysis/Core/StopAnalyzer.cs): SimpleAnalyzer letter
    runs + the English stop set. Same Arrow fast path as SimpleAnalyzer."""

    cjk_pad = False

    def __init__(
        self,
        stop_words: frozenset[str] = ENGLISH_STOP_WORDS,
        max_token_length: int = MAX_TOKEN_LENGTH,
    ):
        super().__init__(stop_words=stop_words, max_token_length=max_token_length)
        self.split_re_re2 = r"[^\p{L}]+"

    def tokenize(self, text: str) -> list[str]:
        if not text:
            return []
        ml = self.max_token_length
        return [t for t in _letters_pattern().findall(text.lower()) if len(t) <= ml]


_SHIPPED_CHAINS = (
    StandardAnalyzer,
    TermFilterAnalyzer,
    KeywordAnalyzer,
    WhitespaceAnalyzer,
    SimpleAnalyzer,
    StopAnalyzer,
)


def arrow_fast_path_for(analyzer: StandardAnalyzer) -> bool:
    """Effective fast-path gate, used by every kernel entry point: the
    analyzer's ``arrow_fast_path`` capability flag AND an unmodified
    ``tokenize()`` (it must come from a shipped chain — an override has
    semantics the re2 split cannot know about, so it drops to the generic
    row path, matching the pre-flag behavior for such subclasses).
    Overriding ``analyze()``/``term_filter_unique`` for a term filter
    keeps the fast path — the TermFilterAnalyzer language-pack pattern.
    Fast-path chains ride the Arrow C++ kernel with the term filter
    applied at the dictionary-encode step; generic chains run their full
    ``analyze()`` per row, so encode_terms skips the term filter for those
    to avoid double-application."""
    if not analyzer.arrow_fast_path:
        return False
    if type(analyzer).tokenize_arrow is not StandardAnalyzer.tokenize_arrow:
        # the chain ships its OWN Arrow tokenizer (Whitespace/Keyword) —
        # an override declares tokenize()/tokenize_arrow() equivalence,
        # asserted by the suite for every shipped chain
        return True
    return type(analyzer).tokenize in {c.tokenize for c in _SHIPPED_CHAINS}


_DEFAULT = StandardAnalyzer()

#: The term-filter language packs: chain name -> (pack module, its own
#: stop-set constant, its term function). A pack module is imported only
#: when its chain is built. With a stop-set constant, the chain stops that
#: set whenever stop filtering is on; ``None`` (english, ascii_folding)
#: stops the set it is given. To add a pack, write a module with a stop
#: set and a ``str -> str`` term function and add its row here.
LANGUAGE_PACKS: dict[str, tuple[str, str | None, str]] = {
    "english": ("porter", None, "porter_stem"),
    "ascii_folding": ("folding", None, "fold"),
    "french": ("french", "FRENCH_STOP_WORDS", "french_light_stem"),
    "german": ("german", "GERMAN_STOP_WORDS", "german_term"),
    "spanish": ("spanish", "SPANISH_STOP_WORDS", "spanish_light_stem"),
    "italian": ("italian", "ITALIAN_STOP_WORDS", "italian_light_stem"),
    "portuguese": ("portuguese", "PORTUGUESE_STOP_WORDS", "portuguese_light_stem"),
    "dutch": ("dutch", "DUTCH_STOP_WORDS", "dutch_stem"),
    "russian": ("russian", "RUSSIAN_STOP_WORDS", "russian_light_stem"),
    "swedish": ("swedish", "SWEDISH_STOP_WORDS", "swedish_light_stem"),
    "arabic": ("arabic", "ARABIC_STOP_WORDS", "arabic_light_stem"),
    "indonesian": ("indonesian", "INDONESIAN_STOP_WORDS", "indonesian_stem"),
    "finnish": ("finnish", "FINNISH_STOP_WORDS", "finnish_light_stem"),
    "hungarian": ("hungarian", "HUNGARIAN_STOP_WORDS", "hungarian_light_stem"),
    "norwegian": ("norwegian", "NORWEGIAN_STOP_WORDS", "norwegian_light_stem"),
    "danish": ("danish", "DANISH_STOP_WORDS", "danish_light_stem"),
    "czech": ("czech", "CZECH_STOP_WORDS", "czech_light_stem"),
    "bulgarian": ("bulgarian", "BULGARIAN_STOP_WORDS", "bulgarian_light_stem"),
    "persian": ("persian", "PERSIAN_STOP_WORDS", "persian_normalize"),
    "hindi": ("hindi", "HINDI_STOP_WORDS", "hindi_light_stem"),
    "greek": ("greek", "GREEK_STOP_WORDS", "greek_light_stem"),
    "turkish": ("turkish", "TURKISH_STOP_WORDS", "turkish_light_stem"),
    "romanian": ("romanian", "ROMANIAN_STOP_WORDS", "romanian_light_stem"),
    "latvian": ("latvian", "LATVIAN_STOP_WORDS", "latvian_light_stem"),
    "sorani": ("sorani", "SORANI_STOP_WORDS", "sorani_light_stem"),
    "catalan": ("catalan", "CATALAN_STOP_WORDS", "catalan_light_stem"),
    "basque": ("basque", "BASQUE_STOP_WORDS", "basque_light_stem"),
    "armenian": ("armenian", "ARMENIAN_STOP_WORDS", "armenian_light_stem"),
    "irish": ("irish", "IRISH_STOP_WORDS", "irish_light_stem"),
    "galician": ("galician", "GALICIAN_STOP_WORDS", "galician_minimal_stem"),
    "brazilian": ("brazilian", "BRAZILIAN_STOP_WORDS", "brazilian_light_stem"),
}


def load_pack(name: str) -> tuple[Callable[[str], str], frozenset[str] | None]:
    """(term function, own stop set or None) of a LANGUAGE_PACKS chain;
    imports that pack's module only."""
    module, stop_set, term = LANGUAGE_PACKS[name]
    pack = importlib.import_module(f".{module}", __package__)
    return getattr(pack, term), getattr(pack, stop_set) if stop_set else None


#: the packs exported under their own class names
_PACK_CLASSES = {c.pack: c for c in (EnglishAnalyzer, ASCIIFoldingAnalyzer)}


def analyzer_for(
    name: str,
    stop_words: frozenset[str],
    max_token_length: int,
    ascii_only: bool,
) -> StandardAnalyzer:
    """Construct a chain by its config name (IndexConfig.analyzer). Used by
    BOTH the index builder and the Searcher (from the stats commit meta),
    so query-side analysis always matches the chain the index was built
    with — the PerFieldAnalyzerWrapper consistency contract."""
    if name == "standard":
        return StandardAnalyzer(stop_words, max_token_length, ascii_only)
    if name in LANGUAGE_PACKS:
        term, own_stop = load_pack(name)
        if own_stop is not None:
            # the stop_words argument is an on/off signal here: a build with
            # stop_filter=True passes the English set, but a French chain
            # stops FRENCH words (FrenchAnalyzer.cs:116 DEFAULT_STOP_SET)
            stop_words = own_stop if stop_words else frozenset()
        cls = _PACK_CLASSES.get(name, TermFilterAnalyzer)
        return cls(stop_words, max_token_length, ascii_only, term=term)
    if name == "cjk":
        from .cjk import CJK_STOP_WORDS, CJKAnalyzer

        sw = CJK_STOP_WORDS if stop_words else frozenset()
        return CJKAnalyzer(sw, max_token_length, ascii_only)
    if name == "thai":
        from .thai import THAI_STOP_WORDS, ThaiAnalyzer

        sw = THAI_STOP_WORDS if stop_words else frozenset()
        return ThaiAnalyzer(sw, max_token_length, ascii_only)
    if name == "shingle":
        from .modules import ShingleAnalyzer

        return ShingleAnalyzer(stop_words, max_token_length, ascii_only)
    if name == "common_grams":
        from .modules import CommonGramsAnalyzer

        return CommonGramsAnalyzer(stop_words, max_token_length, ascii_only)
    if name == "reverse":
        from .modules import ReverseAnalyzer

        return ReverseAnalyzer(stop_words, max_token_length, ascii_only)
    if name == "path_hierarchy":
        from .modules import PathHierarchyAnalyzer

        return PathHierarchyAnalyzer(stop_words, max_token_length, ascii_only)
    if name == "edge_ngram":
        from .modules import EdgeNGramAnalyzer

        return EdgeNGramAnalyzer(stop_words, max_token_length, ascii_only)
    if name == "ngram":
        from .modules import NGramAnalyzer

        return NGramAnalyzer(stop_words, max_token_length, ascii_only)
    if name.startswith("pattern:"):
        from .modules import PatternAnalyzer

        return PatternAnalyzer(
            name[len("pattern:"):], stop_words, max_token_length, ascii_only
        )
    if name.startswith("synonyms:"):
        from .modules import SynonymAnalyzer

        return SynonymAnalyzer(
            name[len("synonyms:"):], stop_words, max_token_length, ascii_only
        )
    if name == "simple":
        return SimpleAnalyzer(max_token_length)
    if name == "stop":
        return StopAnalyzer(stop_words, max_token_length)
    if name == "whitespace":
        return WhitespaceAnalyzer(max_token_length)
    if name == "keyword":
        return KeywordAnalyzer()
    raise ValueError(f"unknown analyzer chain {name!r}")


def analyze_flat_arrow(
    texts, analyzer: StandardAnalyzer = _DEFAULT, encode: bool = True
) -> tuple:
    """Arrow-native full analysis chain — the indexing hot path at scale.

    Same semantics as :meth:`StandardAnalyzer.analyze` row by row (asserted
    by tests) but tokens never become Python objects: tokenize/lower/filter
    run inside pyarrow compute (C++, re2), and the term dictionary comes
    from ``dictionary_encode`` so only the UNIQUE terms of the batch
    materialize as Python strings. Per-token Python objects make indexing
    memory-allocator bound, not CPU bound, and cap multi-core scaling.

    ``texts``: pa.Array/ChunkedArray of strings (nulls = empty docs).

    Returns ``(codes, uniques, doc_idx, positions, doclens)``:
    - codes: int64 per surviving token, index into ``uniques``
    - uniques: np object array of SORTED unique terms of the batch
    - doc_idx / positions: aligned with codes (0-based row; pre-stop pos)
    - doclens: post-stop token count per input row

    With ``encode=False`` the first two slots are instead
    ``(flat_tokens_arrow, None)`` — the surviving tokens as an Arrow
    StringArray, still zero Python objects; callers that accumulate several
    batches before inverting (the flush buffer) concat those and
    dictionary-encode once per segment.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if not arrow_fast_path_for(analyzer):
        # true custom chain (user subclass overriding tokenize() without an
        # Arrow twin): honor its analyze() row-by-row — correctness over
        # speed for unknown chains; every SHIPPED chain (incl. Whitespace/
        # Keyword via their tokenize_arrow overrides) stays on the C++ path
        return _analyze_flat_generic(texts, analyzer, encode)
    n = len(texts)
    sp = analyzer.tokenize_arrow(texts)
    lens_all = pc.list_value_length(sp)
    lens_all = pc.fill_null(lens_all, 0).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(sp)
    doc_idx_all = np.repeat(np.arange(n, dtype=np.int64), lens_all)

    # drop split artifacts ('' at edges) and over-long tokens (255-char cap)
    valid = pc.and_(
        pc.not_equal(flat, ""),
        pc.less_equal(pc.utf8_length(flat), analyzer.max_token_length),
    )
    valid_np = valid.to_numpy(zero_copy_only=False)
    flat = flat.filter(valid)
    doc_idx_v = doc_idx_all[valid_np]
    # pre-stop position = rank within doc after the cap filter
    vcounts = np.bincount(doc_idx_v, minlength=n).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(vcounts)[:-1]])
    positions = np.arange(len(doc_idx_v), dtype=np.int64) - starts[doc_idx_v]

    if analyzer.stop_words:
        stop = pc.is_in(flat, value_set=pa.array(sorted(analyzer.stop_words)))
        keep_arrow = pc.invert(stop)
        keep = keep_arrow.to_numpy(zero_copy_only=False)
        flat = flat.filter(keep_arrow)
        doc_idx_v = doc_idx_v[keep]
        positions = positions[keep]

    doclens = np.bincount(doc_idx_v, minlength=n).astype(np.int64)
    if not encode:
        # NOTE: with encode=False the term filter (stemmer) is NOT applied
        # here — the caller owns the dictionary-encode step and must call
        # encode_terms(analyzer, ...) (the builder's flush path does)
        return flat, None, doc_idx_v, positions, doclens
    if len(flat) == 0:
        e = np.array([], dtype=np.int64)
        return e, np.array([], dtype=object), e, e, doclens

    d = pc.dictionary_encode(flat)
    uniques = d.dictionary.to_numpy(zero_copy_only=False)
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    scodes, suniq = encode_terms(analyzer, codes, uniques)
    return scodes, suniq, doc_idx_v, positions, doclens


def encode_terms(
    analyzer: StandardAnalyzer,
    codes: np.ndarray,
    uniques: np.ndarray,
    text_fields: tuple[str, ...] = (),
    apply_filter: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Apply the analyzer's term filter (stemmer) to a dictionary-encoded
    batch and return (codes, uniques) with uniques SORTED and merged —
    np.unique's inverse both sorts and collapses stems that several surface
    forms map to, at vocabulary cost, never per-token cost. Generic-path
    chains are skipped: their analyze() already applied the full chain.

    ``text_fields``: extra ANALYZED fields whose terms arrive namespaced
    "<field>:term". Term filters themselves skip ':'-containing terms (they
    could be keyword postings, which must stay verbatim), so this function
    re-applies the filter to the SUFFIX of text-field-namespaced terms —
    the index side then matches what ``analyze_query`` produces for those
    fields (the reference analyzes every TextField with the full per-field
    chain, TextField.cs:38 + PerFieldAnalyzerWrapper).

    ``apply_filter=False`` skips the term filter entirely (sort/merge
    only) — used by lang-routed builds, which pre-apply each route's
    filter per document group in :func:`term_filter_flat`."""
    if apply_filter and arrow_fast_path_for(analyzer):
        tf = analyzer.term_filter_unique(uniques)
        if tf is not None:
            uniques = np.asarray(tf, dtype=object)
            if text_fields:
                tfset = set(text_fields)
                idxs = [
                    i
                    for i, t in enumerate(uniques)
                    if ":" in t and t.split(":", 1)[0] in tfset
                ]
                if idxs:
                    parts = [uniques[i].split(":", 1) for i in idxs]
                    sufs = analyzer.term_filter_unique(
                        np.array([p[1] for p in parts], dtype=object)
                    )
                    if sufs is not None:
                        for i, (p, s) in zip(idxs, zip(parts, sufs)):
                            uniques[i] = p[0] + ":" + s
    suniq, inv = np.unique(uniques, return_inverse=True)
    return inv.astype(np.int64)[codes], suniq


def term_filter_flat(analyzer: StandardAnalyzer, flat):
    """Apply a chain's per-unique term filter to a flat Arrow token array:
    one dictionary encode, the filter over the (tiny) vocabulary, one C++
    take back to flat — vocabulary-cost Python, never per token. Used by
    lang-routed builds to pre-apply each route's filter; generic-path
    chains already applied their full chain inside analyze()."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not arrow_fast_path_for(analyzer) or len(flat) == 0:
        return flat
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    d = pc.dictionary_encode(flat)
    uniq = d.dictionary.to_numpy(zero_copy_only=False)
    tf = analyzer.term_filter_unique(np.asarray(uniq, dtype=object))
    if tf is None:
        return flat
    return pc.take(pa.array(list(tf), pa.string()), d.indices)


def _analyze_flat_generic(texts, analyzer: StandardAnalyzer, encode: bool) -> tuple:
    """Row-at-a-time fallback for custom analyzer chains, same contract as
    :func:`analyze_flat_arrow`."""
    import pyarrow as pa

    rows = texts.to_pylist()
    n = len(rows)
    toks: list[str] = []
    doc_idx: list[int] = []
    positions: list[int] = []
    doclens = np.zeros(n, dtype=np.int64)
    for i, t in enumerate(rows):
        a = analyzer.analyze(t or "")
        toks.extend(a.tokens)
        doc_idx.extend([i] * len(a.tokens))
        positions.extend(a.positions)
        doclens[i] = len(a.tokens)
    flat = pa.array(toks, pa.string())
    di = np.asarray(doc_idx, dtype=np.int64)
    po = np.asarray(positions, dtype=np.int64)
    if not encode:
        return flat, None, di, po, doclens
    if len(toks) == 0:
        e = np.array([], dtype=np.int64)
        return e, np.array([], dtype=object), e, e, doclens
    codes, uniques = pd.factorize(np.asarray(toks, dtype=object), sort=True)
    return codes.astype(np.int64), uniques, di, po, doclens
