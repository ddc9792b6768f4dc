"""S1 EXTRACT — HTML → main text, Arrow-batched (web regime).

The trafilatura-style boilerplate stripper the north rule mandates, as a
deterministic vectorized kernel: drop <script>/<style>/<nav>/<aside>/
<header>/<footer> subtrees, prefer <article>/<main> content, take <p>
blocks, strip remaining tags, unescape HTML entities, join paragraphs with
a blank line. (The real trafilatura package is not in this container; this
kernel IS our extractor and the per-url byte-identity invariant is defined
against it — sources/synthetic_pages.py generates HTML whose ground-truth
text this kernel must recover byte-for-byte.)

Determinism requirements (SURVEY.md §7 hard part 4): output depends only on
the input bytes — no global state, no batch-position dependence — so the
result is stable across Arrow batch boundaries, partitioning, and executor
placement.

Generalizes the reference's only unstructured-text entry point, which read
whole files as plain text (create_rdf_graph_from_text,
extremexp_kg_matic/src/utils.py:26-65) with no HTML handling at all.
"""

from __future__ import annotations

import html as html_mod
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DROP_SUBTREES = re.compile(
    r"<(script|style|nav|aside|header|footer|noscript|form|iframe)\b[^>]*>.*?</\1>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENTS = re.compile(r"<!--.*?-->", re.DOTALL)
_MAIN = re.compile(r"<(article|main)\b[^>]*>(.*?)</\1>", re.IGNORECASE | re.DOTALL)
_PARA = re.compile(r"<(p|h[1-6]|li|blockquote)\b[^>]*>(.*?)</\1>", re.IGNORECASE | re.DOTALL)
_TAG = re.compile(r"<[^>]+>")
_WS = re.compile(r"[ \t\r\f\v]+")


def extract_text_str(raw: str) -> str:
    """Pure-Python core (exported for tests and for the oracle side)."""
    s = _COMMENTS.sub("", raw)
    s = _DROP_SUBTREES.sub("", s)
    # narrow to article/main when present (innermost-first: article inside main)
    regions = [m.group(2) for m in _MAIN.finditer(s)]
    scope = regions[-1] if regions else s
    paras = [m.group(2) for m in _PARA.finditer(scope)]
    if not paras:
        # fallback: whole scope minus tags, single block
        paras = [scope]
    out = []
    for p in paras:
        p = _TAG.sub("", p)
        p = html_mod.unescape(p)
        p = _WS.sub(" ", p).strip()
        if p:
            out.append(p)
    return "\n\n".join(out)


@pandas_udf(StringType())
def extract_text(html_bytes: pd.Series) -> pd.Series:
    """BINARY html → STRING text; vectorized, deterministic."""
    return html_bytes.map(
        lambda b: extract_text_str(
            (bytes(b) if not isinstance(b, bytes) else b).decode("utf-8", errors="replace")
        )
        if b is not None
        else None
    )
