"""Preparse cost guard (round-7 verdict #3): the python-side dialect
dispatch — everything sql() does BEFORE handing the statement to
spark.sql — must stay negligible as rewriters accumulate.  The keyword
gate (one lowercase scan; skip rewriters whose trigger substring is
absent; query heads skip the anchored statement-pattern chain) holds it
at ~0.04 ms/statement; this guard fails if a future rewriter lands
ungated and drags the plain-SELECT path back toward the ~0.3 ms it cost
before round 7 (plan_cache_20_cold drift, BENCH r5→r6)."""

import time


class _NoopCache:
    enabled = True

    def get_or_build(self, spark, text, scope=""):
        return None

    def clear(self):
        pass


def test_plain_select_preparse_under_budget(snappy, spark):
    spark.range(10).createOrReplaceTempView("pp_t")
    q = "SELECT id, COUNT(*) AS n FROM pp_t WHERE id > 3 GROUP BY id"
    real = snappy.plan_cache
    snappy.plan_cache = _NoopCache()
    try:
        for _ in range(50):  # warm regex caches / interned attrs
            snappy.sql(q)
        n = 400
        t0 = time.time()
        for _ in range(n):
            snappy.sql(q)
        per_stmt_ms = (time.time() - t0) * 1000 / n
    finally:
        snappy.plan_cache = real
    # 0.25 ms = ~6x headroom over the gated cost, but well below the
    # ungated pre-round-7 chain — catches creep without flaking
    assert per_stmt_ms < 0.25, f"preparse {per_stmt_ms:.3f} ms/stmt"
