"""Text helpers: JVM-side tokenizer Columns and the shingle hasher.

Tokenization contract (FIXTURES.md): the reference splits text on
every non-letter rune (``unicode.IsLetter``, mapper.go:181) and
PRESERVES case (wcMap never lowercases, mapper.go:179-189).  Two
modes:

  * default (``lowercase=True, unicode_letters=False``) — the pinned
    ASCII-lower interpretation used by every DuckDB-oracle-checked
    query (fixtures are ASCII word soup, and DuckDB's regex dialect
    matches ``[^a-z]+`` exactly);
  * reference parity (``lowercase=False, unicode_letters=True``) —
    Java ``[^\\p{L}]+`` splits on exactly the complement of Unicode
    letter categories, matching Go's ``unicode.IsLetter``, with case
    preserved.  ``run_reference_job`` / the CLI use this mode so a
    non-ASCII or case-sensitive corpus produces the reference's
    output byte-for-byte.

:func:`tokens` and :func:`words` return a ``Column`` so the word-count
tokenizer stays inside whole-stage codegen.  Shingle sets are the one
Python path: :func:`shingle_hasher` tokenizes, shingles and hashes one
document, and every shingle-set producer calls it.
"""

from __future__ import annotations

import re
from hashlib import md5

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Split pattern — one-or-more non-ASCII-letter characters.
TOKEN_SPLIT_RE = "[^a-zA-Z]+"
#: Reference-parity split pattern — one-or-more non-Unicode-letter
#: characters (Java regex; Go ``unicode.IsLetter`` equivalent).
REFERENCE_SPLIT_RE = r"[^\p{L}]+"


def tokens(text: Column | str, *, lowercase: bool = True,
           unicode_letters: bool = False) -> Column:
    """``array<string>`` of word tokens of ``text`` (may contain '')."""
    col = F.col(text) if isinstance(text, str) else text
    if lowercase:
        col = F.lower(col)
    return F.split(col, REFERENCE_SPLIT_RE if unicode_letters else TOKEN_SPLIT_RE)


def words(text: Column | str, *, lowercase: bool = True,
          unicode_letters: bool = False) -> Column:
    """Like :func:`tokens` but with empty strings removed.

    ``split`` emits '' at the string boundaries when the text starts /
    ends with a separator; the reference's tokenizer simply never
    emits those (mapper.go:179-189), so filter them out.
    """
    return F.filter(
        tokens(text, lowercase=lowercase, unicode_letters=unicode_letters),
        lambda w: w != F.lit(""),
    )


def shingle_hasher(n: int = 3):
    """THE per-document shingling of every shingle-set path (the
    MinHash kernel in ``operators/dedup.py``, its streaming twin, and
    :func:`distinct_shingle_hashes_udf`): a function from one text to
    its DISTINCT word ``n``-gram shingles as 60-bit hashes, in
    first-occurrence order.

    Tokens are the default-mode :func:`words` (ASCII-lower, split on
    :data:`TOKEN_SPLIT_RE`); a document of at most ``n`` words is one
    shingle of all its words, and a document without words (or a NULL
    text) has none.  Each shingle hashes to the top 60 bits of its
    md5 — ``('0x' || md5(s)[:15])::int64``, the same value the DuckDB
    oracles compute.

    It is returned as a closure so Spark ships it to Python workers by
    value: a worker runs it without importing this package or pandas."""
    split = re.compile(TOKEN_SPLIT_RE).split

    def shingle_hashes(text: str | None) -> list[int]:
        ws = [w for w in split(text.lower()) if w] if text else []
        grams = dict.fromkeys(
            " ".join(ws[i:i + n]) for i in range(max(len(ws) - n + 1, 1))
        ) if ws else ()
        return [int.from_bytes(md5(g.encode()).digest()[:8], "big") >> 4
                for g in grams]

    return shingle_hashes


def distinct_shingle_hashes_udf(n: int = 3):
    """Arrow-batched ``array<long>`` Column of :func:`shingle_hasher`,
    for callers that need the hash set as an expression inside a larger
    projection (``explode`` for a shingle-keyed aggregate or join).

    Every shingle travels as its hash: shuffle keys are fixed-width 8 B
    longs instead of ~20 B strings, set intersections compare longs,
    and the shingle text never leaves the Python worker.  Downstream
    counts (document frequency, pair intersections, Jaccard) are
    identical to the string formulation unless two distinct shingles
    collide in 60 bits — ~n²/2⁶¹, i.e. ~10⁻¹⁰ at fixture scale and a
    handful of pairs globally even at 10¹⁰ distinct shingles.  Marked
    nondeterministic so Catalyst evaluates it once per row instead of
    cloning it into inferred ``size(...) > 0`` filters.
    """
    from pyspark.sql.functions import pandas_udf

    hash_doc = shingle_hasher(n)

    @pandas_udf("array<long>")
    def _shingle_hashes(text: pd.Series) -> pd.Series:
        return pd.Series([hash_doc(t) for t in text])

    return _shingle_hashes.asNondeterministic()
