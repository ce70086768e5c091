"""Text-analysis primitives for the LLM-data-pipeline surface
(BASELINE.json north star): tokenization, shingling, portable hashing,
minhash/simhash building blocks, fingerprints, quality features.

Everything is built-in higher-order functions (JVM-side, codegen) — no
Python in the hot path.  The one pandas_udf here exists to cover the
Arrow-vectorized UDF surface (SURVEY.md §2.2 UDF row) and is deliberately
equivalent to the native ``n_tokens`` expression.

Hashing note: minhash/simhash need a hash that the DuckDB oracle can
reproduce bit-for-bit.  We standardize on md5 hex (identical in Spark,
DuckDB, and any warehouse) and derive integers from hex prefixes —
lexicographic order on fixed-width hex == numeric order, so "min over hex
string" is a valid minhash without any engine-specific integer hashing.
At cluster scale you would swap md5 for xxhash64 (cheaper); the operator
shapes are hash-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Canonical tokenization: trim, split on single spaces.

    The documents table is space-separated tokens with occasional trailing
    whitespace (FIXTURES.md §4); trim-then-split is reproducible in every
    engine (DuckDB: string_split(trim(text), ' ')).
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), " ")


def n_tokens(text: Column | str) -> Column:
    return F.size(tokens(text))


def let(col: Column, body) -> Column:
    """Evaluate ``col`` ONCE per row and bind it as a lambda variable for
    ``body`` — the missing let-expression of the expression language.

    Catalyst does not share subexpressions into HOF lambdas: a lambda
    body that references an expensive child expression (e.g. the token
    split of a megabyte document) re-evaluates that child for EVERY
    array element, turning a linear per-row transform into a quadratic
    one (measured: 20k tokens 25 s, 100k tokens unbounded).  Wrapping
    the child in a 1-element array and binding it through transform's
    NamedLambdaVariable materializes it once; `element_at(..., 1)`
    unwraps the result.  Overhead for already-cheap children is one
    array allocation per row — noise."""
    return F.element_at(F.transform(F.array(col), body), 1)


def shingles(toks: Column, k: int = 3) -> Column:
    """k-token shingles (n-grams) as strings; [] when doc shorter than k.

    The token array is let-bound so each shingle's slice reads a
    materialized array — linear in document length even when ``toks``
    is itself an expensive expression (see ``let``)."""
    return let(
        toks,
        lambda t: F.when(F.size(t) < k, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
            )
        ),
    )


def minhash_signature(items: Column, n_perm: int) -> Column:
    """MinHash signature as a pure projection (no shuffle): per permutation
    s, min over the item set of (A[s]*base_hash28(x) + B[s]) mod p — the
    same universal-hash family as operators/dedup.minhash_signatures, so
    the two forms produce identical signatures.  Use the operator form in
    hot paths (exploded codegen beats interpreted HOF lambdas ~10×); this
    form suits signature-on-ingest projections.
    """
    # let-bind the base-hash array: referenced inside the per-permutation
    # lambda, it would otherwise be re-hashed n_perm times (see ``let``)
    return let(
        F.transform(items, lambda x: base_hash28(x)),
        lambda hashed: F.transform(
            F.sequence(F.lit(0), F.lit(n_perm - 1)),
            lambda s: F.array_min(
                F.transform(
                    hashed,
                    lambda v: (
                        F.element_at(
                            F.array(*[F.lit(a) for a in MINHASH_A]), s + 1
                        ) * v
                        + F.element_at(F.array(*[F.lit(b) for b in MINHASH_B]), s + 1)
                    )
                    % F.lit(MINHASH_P),
                )
            ),
        ),
    )


#: Universal-hash family for MinHash: h_s(v) = (A[s]*v + B[s]) mod MINHASH_P.
#: Fixed constants (seeded once, hardcoded) so any engine — Spark, DuckDB,
#: a warehouse — reproduces identical signatures.  MINHASH_P is the Mersenne
#: prime 2^31-1; base values are 28-bit (7 hex chars of md5), so a*v < 2^59
#: stays in exact BIGINT range on every engine.
MINHASH_P = (1 << 31) - 1
MINHASH_A = [1373158607, 239081664, 53710185, 1592467582, 590620972,
             525901257, 479341424, 299655413, 1581559893, 220106708,
             1453201079, 1590571866, 1915941033, 1171165723, 186699714,
             1268073013]
MINHASH_B = [906070220, 68252793, 63989047, 201209005, 469521477,
             499635468, 1085242216, 1292825378, 56985561, 1205264595,
             427000596, 1537640408, 1395616196, 1506083910, 1170252923,
             900911954]


def base_hash28(col: Column) -> Column:
    """Portable 28-bit integer hash: first 7 hex chars of md5 → bigint.

    DuckDB equivalent: ('0x' || substr(md5(x), 1, 7))::BIGINT.
    """
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def minhash_perm(v: Column, s: int) -> Column:
    """The s-th permutation hash (a_s*v + b_s) mod p over a base-hash col."""
    return (F.lit(MINHASH_A[s]) * v + F.lit(MINHASH_B[s])) % F.lit(MINHASH_P)


def hex4_to_int(hex_col: Column) -> Column:
    """First 4 hex chars → int 0..65535 (portable: DuckDB uses strpos math)."""
    return hexn_to_int(hex_col, 4)


def hexn_to_int(hex_col: Column, n_chars: int) -> Column:
    """First ``n_chars`` hex chars → bigint (n_chars ≤ 15 keeps the value
    inside signed 64-bit).  DuckDB: ('0x' || substr(x, 1, n))::BIGINT."""
    assert 1 <= n_chars <= 15, "15 hex chars = 60 bits, the signed-64 cap"
    return F.conv(F.substring(hex_col, 1, n_chars), 16, 10).cast("bigint")


def token_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: min token hash (1-perm minhash) — a cheap,
    order-insensitive content id for clustering/sharding."""
    return F.array_min(F.transform(tokens(text), lambda t: F.md5(t)))


def type_token_ratio(toks: Column) -> Column:
    """Distinct-token ratio — a classic quality feature."""
    return F.size(F.array_distinct(toks)) / F.size(toks)


def mean_token_len(toks: Column) -> Column:
    return F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    ) / F.size(toks)


def quality_score(toks: Column) -> Column:
    """Deterministic quality score, fixed-point in [0, 10000]: blend of
    type-token ratio and capped mean token length.  The blend is arbitrary
    but stable — the point is the operator shape (pure projection, no
    shuffle).  Emitted as floor(score * 1e4): floor on the binary double
    is rounding-mode-free, whereas round(x, 4) can land on a .xxxx5
    boundary where Spark (BigDecimal HALF_UP) and DuckDB (binary round)
    disagree (observed at sf0.1)."""
    ttr = type_token_ratio(toks)
    mtl = F.least(mean_token_len(toks) / F.lit(10.0), F.lit(1.0))
    return F.floor((ttr * 0.5 + mtl * 0.5) * 10000).cast("bigint")


def pandas_token_count():
    """Arrow-vectorized UDF equivalent of n_tokens() — exercises the
    pandas_udf surface (SURVEY.md §2.2 UDF row).  Prefer n_tokens() in
    production plans; this exists to prove the slow path is wired."""
    import pandas as pd  # noqa: F401 — needed for the UDF type hints
    from pyspark.sql.functions import pandas_udf

    def _count(s):
        return s.str.strip().str.split(" ").str.len().astype("int32")

    return pandas_udf(_count, "int")


BPE_MERGES = (
    ("a", "r"),
    ("t", "a"),
    ("r", "o"),
    ("o", "w"),
    ("s", "p"),
    ("sp", "ar"),
    ("spar", "k"),
    ("t", "h"),
    ("th", "e"),
    ("k", "e"),
    ("ke", "y"),
    ("i", "n"),
)


def bpe_units(tok: Column, merges: tuple = BPE_MERGES) -> Column:
    """Apply a FIXED, priority-ordered BPE merge table to one token and
    return its subword units — real byte-pair-encoding application (each
    rule rewrites adjacent unit pairs left-to-right before the next rule
    runs), not a regex approximation.  Each rule is one sequential
    left fold over the unit list, so the result is deterministic and
    reproducible in any engine with list folds; the merge table is
    tokenizer CONFIG (fixed constants), exactly like a vocab file —
    per-row arithmetic only, no shuffle, no state.
    """
    units = F.split(tok, "")

    def apply_rule(prev: Column, a: str, b: str) -> Column:
        return F.aggregate(
            prev,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    out = units
    for a, b in merges:
        out = apply_rule(out, a, b)
    return out
