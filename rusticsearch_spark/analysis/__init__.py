#: Version stamp of the analysis pipeline's BEHAVIOR.  Bump whenever
#: tokenizer/filter output changes for any input (e.g. round 3's
#: NFKD → full-Lucene-table ASCII fold): every config write stamps it
#: into IndexConfig.analysis_version and IndexLayout.read_config
#: refuses an index whose stamp differs — forcing a reindex instead of
#: silent analyzer-mismatched queries.
#: v1 = NFKD-based fold; v2 = full Lucene ASCIIFolding table (r3).
ANALYSIS_VERSION = 2

from .analyzers import Analyzer, AnalyzerRegistry, parse_analysis_settings
from .tokenizers import standard_tokenize, ngram_tokenize, Token
from .ngram_generator import Edge, ngram_generate
from .filters import lowercase_filter, ascii_fold, ascii_folding_filter, ngram_filter
from .html_strip import html_to_text

__all__ = [
    "ANALYSIS_VERSION",
    "Analyzer", "AnalyzerRegistry", "parse_analysis_settings",
    "standard_tokenize", "ngram_tokenize", "Token",
    "Edge", "ngram_generate",
    "lowercase_filter", "ascii_fold", "ascii_folding_filter", "ngram_filter",
    "html_to_text",
]
