"""Cross-engine-portable numeric primitives shared by every oracled
query (see plans/registry.py module docstring for the full
determinism contract). Leaf module: importable from text/ and
similarity/ operators without touching plans/ (which imports them)."""

from __future__ import annotations

import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_round(col: Column, n: int) -> Column:
    """``floor(x·10ⁿ + 0.5) / 10ⁿ`` — the one rounding form whose
    result is bit-identical in Spark and DuckDB (both sides compute
    the identical IEEE multiply/floor/divide sequence; ``round()``
    differs between engines on .5 ties and negative inputs)."""
    p = float(10**n)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


#: Cap of the session-scoped driver memos (this module's parse cache
#: and ``operators.dispatch``'s probe memo). Their keys are
#: parameter-bounded (a few dozen per session); the cap only guards a
#: pathological caller looping over unbounded distinct keys.
MEMO_MAX = 512


def memo_reset_on_new_context(memo: dict, owner: list, sc) -> None:
    """Lifecycle guard for a driver memo holding JVM-backed values,
    which die with their JVM: clear ``memo`` when ``sc`` is not the
    SparkContext recorded in ``owner[0]`` (a weakref). A restarted
    context is a new Python object by construction, so identity
    detects session turnover without a py4j call per lookup."""
    ref = owner[0]
    if ref is None or ref() is not sc:
        memo.clear()
        owner[0] = weakref.ref(sc)


def memo_put(memo: dict, key, value) -> None:
    """Insert into a driver memo capped at ``MEMO_MAX``. When full,
    evict only the oldest entry (dict insertion order), so one new key
    costs one re-parse or re-probe instead of wiping every warm entry.
    Lookups and inserts are not atomic; concurrent builders can race,
    which at worst repeats an idempotent parse or probe."""
    if key not in memo and len(memo) >= MEMO_MAX:
        memo.pop(next(iter(memo)), None)
    memo[key] = value


#: Parsed-expression cache for the rendered SQL families (codebook
#: literals, MinHash signature chains, sign-LSH folds). The texts are
#: deterministic in their parameters, so repeat builds — every k-means
#: iteration, every consumer of the same (k, bands, rows) geometry —
#: re-parse byte-identical strings; Catalyst charges ~0.2 s per large
#: literal parse plus one py4j round trip per F.expr call. ``Column``
#: is an immutable wrapper over an unresolved expression tree, so one
#: parsed object is safely shared by any number of plans.
_EXPR_CACHE: dict[str, Column] = {}
_EXPR_CACHE_SC: list[weakref.ref | None] = [None]


def cached_expr(sql: str) -> Column:
    """``F.expr(sql)`` with a per-SparkContext parse cache — same
    Column object back for a byte-identical text within one session
    (VERDICT r19 backlog: the rendered-literal re-parse cost, ~0.2 s
    per kmeans iteration per consumer, is pure driver latency)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return F.expr(sql)
    memo_reset_on_new_context(_EXPR_CACHE, _EXPR_CACHE_SC, sc)
    col = _EXPR_CACHE.get(sql)
    if col is None:
        col = F.expr(sql)
        memo_put(_EXPR_CACHE, sql, col)
    return col
