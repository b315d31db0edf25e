"""Real BPE subword tokenization over the committed merges table
(functions/bpe_merges.py, learned once by tools/learn_bpe.py).

Replaces the <=4-char-piece regex proxy for token-count-based filtering /
budgeting (the reference pipeline has no tokenizer; this belongs to the
training-data component set).

:func:`bpe_token_count` is pure Column arithmetic, exactly mirrored in
DuckDB by :func:`bpe_query_sql`.  The text is exploded to a space-delimited
symbol string (word boundaries become a ``|`` symbol that participates in
no merge), then each merge rule is applied IN RANK ORDER as a literal
``replace(' a b ', ' ab ')``, repeated ``_REPEAT`` times so runs of the
same pair merge exhaustively.  Sequential exhaustive application in rank
order is exactly BPE encoding: a merge at rank r can only create pairs
involving its output symbol, and every rule consuming that symbol was
learned later, so no earlier rule ever becomes applicable again.
Exhaustiveness bound (verified empirically and by site-overlap argument,
round 4): for a rule with DISTINCT symbols ``a != b`` the pair sites are
disjoint, a non-overlapping replace pass merges alternate sites and the
second pass catches every leftover — two passes are always exhaustive, for
runs of ANY length.  Same-symbol rules ``(x, x)`` have OVERLAPPING sites
and the left-to-right non-overlap pairing can strand symbols unrecoverably
(``aaaaaa`` -> ``aa a aa a`` vs greedy ``aa aa aa``) at any repeat count,
so they are banned at learn time (tools/learn_bpe.py) and at import below.
``_REPEAT = 3`` keeps one pass of headroom over the proven bound.

The symbol-explosion regexp runs in dotall mode (``(?s)``) in BOTH engines
so ``\\n`` is an ordinary in-word symbol everywhere (it can participate in
no merge — the merges-table guard below bans whitespace symbols).
:func:`bpe_encode_word` is the classic per-word greedy encoder, kept as
the reference the column path is pytest-gated against, on the corpus AND
on edge inputs (tab, newline, literal '|', NULL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .bpe_merges import MERGES

# symbols are interpolated into single-quoted SQL literals and share the
# text alphabet with the '|' word mark — a merges table regenerated on a
# corpus containing quotes/pipes/whitespace must never reach the encoder
# (tools/learn_bpe.py filters them at training time; this guards the
# committed artifact itself).  A hard raise, not `assert`: the guard must
# survive `python -O`.
for _a, _b in MERGES:
    if set(_a + _b) & set("'\"|\\ \t\n"):
        raise ValueError(f"unusable BPE merge symbol pair: {(_a, _b)!r}")
    if _a == _b:
        # same-symbol rules diverge from the greedy encoder on runs >= 4
        # under non-overlapping replace (see module docstring)
        raise ValueError(f"same-symbol BPE merge is not chain-safe: {_a!r}")

#: times each rule's non-overlapping replace is repeated; 2 is exhaustive
#: for the distinct-symbol rules the guards above enforce (module doc), 3
#: keeps headroom
_REPEAT = 3

_WORD_MARK = "|"


def _symbol_chain(text: Column) -> Column:
    """The fully-merged symbol string ``" p1 p2 ... pn "`` (word boundaries
    as the ``|`` mark), shared by the count and the piece-sequence paths."""
    s = F.replace(F.lower(text), F.lit(" "), F.lit(_WORD_MARK))
    # (?s): dot matches \n too, so newline-bearing text spaces out the same
    # way in Spark (Java regex) and DuckDB (RE2) — and as the greedy encoder
    s = F.concat(F.lit(" "), F.regexp_replace(s, "(?s)(.)", "$1 "))
    for a, b in MERGES:
        for _ in range(_REPEAT):
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return s


def bpe_token_count(text: Column) -> Column:
    """Number of BPE subword tokens in ``text`` (whole document), as a pure
    JVM-side expression chain — no UDF."""
    s = _symbol_chain(text)
    # tokens = pieces - word_marks; with s = " p1 p2 ... pn " the length
    # terms cancel to: len(s without marks) - len(s without spaces) - 1
    # (two uses of the chain instead of four)
    return (
        F.length(F.replace(s, F.lit(_WORD_MARK), F.lit("")))
        - F.length(F.replace(s, F.lit(" "), F.lit("")))
        - 1
    ).cast("int")


def bpe_pieces(text: Column) -> Column:
    """The BPE subword SEQUENCE as ``array<string>`` — the output a
    tokenizing pipeline actually ships (token ids are then one broadcast
    vocab-join away).  The chained symbol string already contains the
    pieces; splitting on the separator and dropping word marks (and the
    empty piece an empty document leaves behind) recovers them in order.
    array_remove keeps the projection inside whole-stage codegen (no
    higher-order filter)."""
    s = _symbol_chain(text)
    return F.array_remove(
        F.array_remove(F.split(F.trim(s), " "), _WORD_MARK), ""
    )


def _chain_sql(table: str = "documents", id_col: str = "doc_id",
               expr: str = "text") -> str:
    """DuckDB mirror of :func:`_symbol_chain` as a ``({id_col}, s)`` query —
    the same replace chain, same rule order, same repeat count, so equality
    is by construction.  DuckDB binds expressions with a recursion limit of
    128, so the 3x64 replace chain is chunked across nested subqueries
    (~24 replaces deep each) instead of one nested scalar expression."""
    steps = [(f" {a} {b} ", f" {a}{b} ") for a, b in MERGES
             for _ in range(_REPEAT)]
    sql = (
        f"SELECT {id_col}, ' ' || regexp_replace(replace(lower({expr}), "
        f"' ', '{_WORD_MARK}'), '(?s)(.)', '\\1 ', 'g') AS s FROM {table}"
    )
    for i in range(0, len(steps), 24):
        s = "s"
        for pat, rep in steps[i:i + 24]:
            s = f"replace({s}, '{pat}', '{rep}')"
        sql = f"SELECT {id_col}, {s} AS s FROM ({sql})"
    return sql


def bpe_query_sql(table: str = "documents", id_col: str = "doc_id",
                  expr: str = "text") -> str:
    """Full ``SELECT {id_col}, n_bpe_tokens`` DuckDB mirror of
    :func:`bpe_token_count`."""
    return (
        f"SELECT {id_col}, CAST(length(replace(s, '{_WORD_MARK}', '')) "
        f"- length(replace(s, ' ', '')) - 1 AS INT) AS n_bpe_tokens "
        f"FROM ({_chain_sql(table, id_col, expr)})"
    )


def _pieces_sql(table: str = "documents", id_col: str = "doc_id",
                expr: str = "text") -> str:
    """DuckDB mirror of the exploded :func:`bpe_pieces` arrays as a
    ``({id_col}, pos, piece)`` query (0-based position, matching Spark's
    posexplode; DuckDB lacks WITH ORDINALITY, so position comes from a
    range() unnest over the filtered list)."""
    lst = (f"list_filter(string_split(trim(s), ' '), "
           f"x -> x <> '{_WORD_MARK}' AND x <> '')")
    return f"""
SELECT {id_col}, i AS pos, l[i + 1] AS piece
FROM (SELECT {id_col}, {lst} AS l FROM ({_chain_sql(table, id_col, expr)})),
     UNNEST(range(0, len(l))) u(i)
"""


def bpe_vocab_sql(table: str = "documents", id_col: str = "doc_id",
                  expr: str = "text") -> str:
    """DuckDB mirror of the corpus vocabulary histogram over
    :func:`bpe_pieces`: per piece, total occurrences and distinct docs."""
    return f"""
SELECT piece, COUNT(*) AS n_tokens, COUNT(DISTINCT {id_col}) AS n_docs
FROM (
  SELECT {id_col},
         UNNEST(list_filter(string_split(trim(s), ' '),
                            x -> x <> '{_WORD_MARK}' AND x <> '')) AS piece
  FROM ({_chain_sql(table, id_col, expr)})
)
GROUP BY piece
"""


def bpe_token_ids_sql(table: str = "documents", id_col: str = "doc_id",
                      expr: str = "text") -> str:
    """DuckDB mirror of the per-doc token-ID sequences: exploded pieces
    joined to a dense corpus-vocab rank (alphabetical, same tie-free order
    as the Spark window)."""
    return f"""
WITH pieces AS ({_pieces_sql(table, id_col, expr)}),
vocab AS (
  SELECT piece,
         CAST(dense_rank() OVER (ORDER BY piece) AS INT) AS token_id
  FROM (SELECT DISTINCT piece FROM pieces)
)
SELECT {id_col}, CAST(pos AS INT) AS pos, token_id
FROM pieces JOIN vocab USING (piece)
"""


# ---------------------------------------------------------------------------
# reference encoder
# ---------------------------------------------------------------------------

_RANK = {pair: i for i, pair in enumerate(MERGES)}


def bpe_encode_word(word: str) -> list[str]:
    """Classic greedy encoder: repeatedly merge the lowest-rank adjacent
    pair until none applies."""
    sym = list(word)
    while len(sym) > 1:
        best, best_rank = None, None
        for i in range(len(sym) - 1):
            r = _RANK.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        a, b = MERGES[best_rank]
        out, i = [], 0
        while i < len(sym):  # merge ALL occurrences of the chosen pair
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def _count_doc(text: str | None, memo: dict) -> int | None:
    """Count with EXACTLY the column path's boundary semantics: only ' '
    separates words (tab/newline are ordinary symbols), a literal '|'
    behaves like a space (the column path maps spaces onto the '|' word
    mark, so pre-existing pipes are indistinguishable from boundaries),
    and NULL text stays NULL."""
    if text is None:
        return None
    n = 0
    for w in text.lower().replace(_WORD_MARK, " ").split(" "):
        c = memo.get(w)
        if c is None:
            c = memo[w] = len(bpe_encode_word(w))
        n += c
    return n
