from .analyzer import (
    ENGLISH_STOP_WORDS,
    MAX_TOKEN_LENGTH,
    TOKEN_RE_PYTHON,
    TOKEN_RE_SQL,
    ASCIIFoldingAnalyzer,
    EnglishAnalyzer,
    KeywordAnalyzer,
    SimpleAnalyzer,
    StandardAnalyzer,
    StopAnalyzer,
    WhitespaceAnalyzer,
)

__all__ = [
    "ENGLISH_STOP_WORDS",
    "MAX_TOKEN_LENGTH",
    "TOKEN_RE_PYTHON",
    "TOKEN_RE_SQL",
    "ASCIIFoldingAnalyzer",
    "EnglishAnalyzer",
    "KeywordAnalyzer",
    "SimpleAnalyzer",
    "StandardAnalyzer",
    "StopAnalyzer",
    "WhitespaceAnalyzer",
]
