"""Deterministic HTML → text extraction.

Reference analog: the gigaword XML reader's text-zone extraction
(/root/reference/mitielib/include/mitie/gigaword_reader.h:139-250) — MITIE's
only markup→text stage. Our pipeline needs a byte-deterministic extractor so
the "byte-identical extracted text per url" invariant (BASELINE.json
input_hint) is testable: the same html bytes must always produce the same
text bytes, on any executor, in any partition order.

Rules (fixed, versioned by EXTRACTOR_VERSION):
1. drop <script>/<style>/<noscript> elements incl. content, and comments;
2. <p>/<div>/<h1-6>/<li>/<table>/… boundaries become paragraph breaks;
   <br> is a soft break (normalizes to a single space within a paragraph);
3. all remaining tags are stripped;
4. HTML entities decoded (named + numeric via html.unescape);
5. whitespace is normalized per line (runs → single space, trimmed);
6. empty lines collapse; paragraphs joined by a single blank line;
   output has no trailing newline.
"""

from __future__ import annotations

import pandas as pd

import html as _html
import re

EXTRACTOR_VERSION = 1

# the closing tag alternation tolerates attributes ("</script foo>") and a
# missing close (unclosed block swallows to end-of-document): without the
# $ fallback, a truncated "<script>var x=..." page would leak its whole
# script body into the extracted text
_DROP = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?(</\1\b[^>]*>|\Z)|<!--.*?(-->|\Z)",
    re.IGNORECASE | re.DOTALL,
)
_BR = re.compile(r"<br\s*/?>", re.IGNORECASE)
_PARA = re.compile(
    r"</?(p|div|h[1-6]|li|ul|ol|table|tr|blockquote|section|article|header|footer)\b[^>]*>",
    re.IGNORECASE,
)
_TAG = re.compile(r"<[^>]*>")
_SPACES = re.compile(r"[ \t\r\f\v]+")


def html_to_text(html_bytes: bytes | str) -> str:
    """Extract text deterministically from html bytes (assumed UTF-8)."""
    if isinstance(html_bytes, (bytes, bytearray)):
        s = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        s = html_bytes
    s = _DROP.sub(" ", s)
    s = _BR.sub("\n", s)
    s = _PARA.sub("\n\n", s)
    s = _TAG.sub(" ", s)
    s = _html.unescape(s)
    lines = []
    for raw in s.split("\n"):
        line = _SPACES.sub(" ", raw).strip()
        lines.append(line)
    # build paragraphs: sentinel marks paragraph boundaries
    paras: list[str] = []
    cur: list[str] = []
    for line in lines:
        if line == "":
            if cur:
                paras.append(" ".join(cur))
                cur = []
        else:
            cur.append(line)
    if cur:
        paras.append(" ".join(cur))
    return "\n\n".join(paras)


def register_udf():
    """``html_to_text`` as a scalar ``pandas_udf`` over Arrow batches;
    a NULL html gives NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def html_to_text_udf(htmls: pd.Series) -> pd.Series:
        return htmls.map(lambda h: None if h is None else html_to_text(h))

    return html_to_text_udf
