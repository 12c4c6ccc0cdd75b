"""Frozen constants of the extraction SPEC (see SPEC.md).

Both the single-node oracle and the Spark kernel import from here so the
two implementations cannot drift on vocabulary or thresholds.
"""

from __future__ import annotations

HTML_KINDS = frozenset({"h1", "h2", "h3", "p", "li", "a", "nav", "footer", "header", "aside", "script"})
PDF_KINDS = frozenset({"title", "heading", "body", "pageno", "runhead"})
MEDIA_KINDS = frozenset({"image", "table"})
SHARED_KINDS = frozenset({"caption"})
ALL_KINDS = HTML_KINDS | PDF_KINDS | MEDIA_KINDS | SHARED_KINDS

# HTML boilerplate priors (SPEC §3.1)
HTML_BOILER_KINDS = frozenset({"nav", "footer", "header", "aside", "script", "a"})
HTML_CONTENT_KINDS = frozenset({"h1", "h2", "h3", "caption"})
HTML_CANDIDATE_KINDS = frozenset({"p", "li"})
MIN_CONTENT_WORDS = 8  # p/li with >= this many words is content outright

# PDF rules (SPEC §3.2)
PDF_BOILER_KINDS = frozenset({"pageno", "runhead"})
REPEAT_MIN_COUNT = 3   # exact text repeated >= this many times ...
REPEAT_MAX_WORDS = 6   # ... and this short -> boilerplate

MEGA_SPAN_THRESHOLD = 5000  # docs above this count as mega-docs (SPEC §7)

FLAVOR_HTML = "html"
FLAVOR_PDF = "pdf"
FLAVOR_PLAIN = "plain"

# 40-term English stop set for the keyword plane (SPEC §6). The reference
# uses a similar small inline set (docling_service.py:345); this one is an
# independent, alphabetized 40-word list — pinned here, mirrored in SQL
# oracles via an inline VALUES list.
STOPWORDS_40 = (
    "about", "after", "all", "also", "and", "are", "been", "but", "can",
    "could", "for", "from", "had", "has", "have", "her", "his", "into",
    "its", "just", "more", "not", "one", "other", "our", "out", "over",
    "she", "some", "than", "that", "the", "their", "them", "they", "this",
    "was", "were", "with", "you",
)

TOKEN_RE = r"\b[a-zA-Z]{3,}\b"   # X3
TOP_K_KEYWORDS = 20              # W2
