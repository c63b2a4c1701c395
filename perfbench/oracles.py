"""Expected outputs, computed without Spark.

* Validation runs: the planted violation set follows from the plant
  constants of ``neontology_spark.images`` (FIXTURES.md section 1), which
  place every planted violation at a fixed row index.
* Ingest and profiling: DuckDB over the same input files.
"""

from __future__ import annotations

import math
from collections import Counter

from .inputs import N_IMAGE_PARTS

LATE_TAG = " [late: cross-partition member from completed part]"
PROFILE_PART = "l_linenumber"


# ---------------------------------------------------------------------------
# validation runs
# ---------------------------------------------------------------------------


def planted_violations(n_rows: int, pending: set[int]) -> Counter:
    """Multiset of (check, part, column, key, detail) a ValidationRun with
    the ``validate.py`` checks must write when it processes the ``pending``
    partitions (all of them on a fresh run).

    Drift: the last partition's w/h are shifted 1.5x, which moves every GK
    quantile by ~50% (threshold 25%), so ``quantile_drift`` flags it on both
    columns.  ``distribution_drift`` flags nothing: ``validate.py``'s edges
    span 0..4096 and ``numeric_histogram`` cuts that range into 12
    equal-width buckets (its documented width_bucket semantics), so every
    w of 32..142 lands in the same bucket in baseline and table alike.
    """
    from neontology_spark.images import (
        BAD_FMT_ROWS,
        CAPTION_MISMATCH_ROWS,
        CORRUPT_ROWS,
        DUP_ID_PAIRS,
        HOT_PHASH,
        NULL_FMT_ROWS,
        expected_phash,
    )

    parts = set(pending)
    clone_of = {b: a for a, b in DUP_ID_PAIRS}

    def part(i: int) -> int:
        return i % N_IMAGE_PARTS

    def key(i: int) -> str:
        return f"img_{clone_of.get(i, i):012d}"

    local: list[tuple] = []
    for i in NULL_FMT_ROWS:
        local.append(("required_not_null", part(i), "fmt", key(i), "required column is NULL"))
    for i in BAD_FMT_ROWS:
        local.append(("value_domain", part(i), "fmt", key(i), "out-of-domain value: bmp"))
    for i in CORRUPT_ROWS:
        local.append(("payload_invariants", part(i), "bytes", key(i), "psnr_db<40"))
    for i in CAPTION_MISMATCH_ROWS:
        local.append(("payload_invariants", part(i), "bytes", key(i), "caption mismatch"))
    for col in ("h", "w"):
        local.append(("quantile_drift", N_IMAGE_PARTS - 1, col, None, "max_rel_shift>0.25"))
    out = Counter(v for v in local if v[1] in parts)

    # global uniqueness: groups of rows sharing a key
    groups: dict[tuple, list[int]] = {}
    for a, b in DUP_ID_PAIRS:
        groups[("unique__image_id", "image_id", key(a))] = [a, b]
    signed = lambda h: h - (1 << 63)  # noqa: E731 - phash is stored as signed int64
    hot = [i for i in range(n_rows) if i % 97 == 5]
    groups[("unique__phash", "phash", str(signed(HOT_PHASH)))] = hot
    for a, b in DUP_ID_PAIRS:
        groups[("unique__phash", "phash", str(signed(expected_phash(a))))] = [a, b]
    for (check, col, k), members in groups.items():
        detail = f"duplicate key, count={len(members)}"
        in_scope = [i for i in members if part(i) in parts]
        if not in_scope:
            continue
        for i in members:
            if part(i) in parts:
                out[(check, part(i), col, k, detail)] += 1
            else:  # completed-side member of a group the resume just saw
                out[(check, part(i), col, k, detail + LATE_TAG)] += 1
    return out


def normalize_violation(row) -> tuple:
    """Violation row → the comparable tuple of ``planted_violations``;
    numeric details are reduced to the fact the check asserts."""
    check, detail = row["check"], row["detail"]
    if check == "payload_invariants" and detail.startswith("psnr_db="):
        detail = "psnr_db<40" if float(detail.split("=")[1]) < 40 else detail
    elif check == "quantile_drift" and detail.startswith("max_rel_shift="):
        detail = "max_rel_shift>0.25" if float(detail.split("=")[1]) > 0.25 else detail
    return (check, row["part"], row["column"], row["key"], detail)


def expected_verdicts(expected: Counter, pending: set[int], checks: list[str]) -> dict:
    """(part, check) → n_violations for every verdict row the run returns:
    each pending partition, plus any partition a late member lands in."""
    counts: Counter = Counter()
    for (check, part, *_), n in expected.items():
        counts[(part, check)] += n
    out = {}
    for check in checks:
        for p in set(pending) | {p for (p, c) in counts if c == check}:
            out[(p, check)] = counts.get((p, check), 0)
    return out


# ---------------------------------------------------------------------------
# ingest: merge, edge merge and referential integrity in DuckDB
# ---------------------------------------------------------------------------

ORDER_POLICIES = {
    # column: "always" | "create" | "match"  (merge_nodes' MergePolicy)
    "o_custkey": "always",
    "o_orderstatus": "match",
    "o_totalprice": "always",
    "o_orderdate": "create",
    "o_orderpriority": "create",
    "o_clerk": "always",
    "o_shippriority": "always",
    "o_comment": "match",
}
EDGE_POLICIES = {
    "l_quantity": "always",
    "l_extendedprice": "always",
    "l_shipmode": "create",
    "l_comment": "match",
}


def _merge_sql(existing: str, batch: str, keys: list[str], policies: dict) -> str:
    on = " AND ".join(f"e.{k} = b.{k}" for k in keys)
    present_e, present_b = f"e.{keys[0]} IS NOT NULL", f"b.{keys[0]} IS NOT NULL"
    cols = [f"COALESCE(e.{k}, b.{k}) AS {k}" for k in keys]
    for c, pol in policies.items():
        cond = {
            "always": present_b,
            "create": f"{present_b} AND NOT ({present_e})",
            "match": f"{present_b} AND {present_e}",
        }[pol]
        cols.append(f"CASE WHEN {cond} THEN b.{c} ELSE e.{c} END AS {c}")
    return f"SELECT {', '.join(cols)} FROM ({existing}) e FULL OUTER JOIN ({batch}) b ON {on}"


def _digest(con, sql: str) -> tuple[int, int]:
    """(row count, order-independent checksum) of a query's rows."""
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
    h = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    n, s = con.execute(f"SELECT count(*), sum(hash({h}) % 1000000007) FROM ({sql})").fetchone()
    return int(n), int(s or 0)


def digest_parquet(con, path: str, columns: list[str]) -> tuple[int, int]:
    return _digest(con, f"SELECT {', '.join(columns)} FROM read_parquet('{path}/*.parquet')")


def ingest_expected(con, d: str) -> dict:
    """Digests of both post-merge tables and the two RI results."""
    batch = f"""SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY row_id DESC) rn
        FROM '{d}/orders_batch.parquet') WHERE rn = 1"""
    orders = _merge_sql(f"SELECT * FROM '{d}/orders_existing.parquet'", batch, ["o_orderkey"], ORDER_POLICIES)
    resolved = f"""SELECT * FROM '{d}/edges_batch.parquet'
        WHERE source IN (SELECT o_orderkey FROM ({orders}))
          AND target IN (SELECT p_partkey FROM '{d}/part.parquet')"""
    edges = _merge_sql(
        f"SELECT * FROM '{d}/edges_existing.parquet'", resolved,
        ["source", "target", "l_linenumber"], EDGE_POLICIES,
    )
    unmatched = f"""SELECT * FROM '{d}/edges_batch.parquet'
        WHERE source NOT IN (SELECT o_orderkey FROM ({orders}))"""
    ambiguous = f"""SELECT o_orderkey, count(*) AS n FROM '{d}/orders_batch.parquet'
        GROUP BY o_orderkey HAVING count(*) > 1"""
    return {
        "orders": _digest(con, orders),
        "edges": _digest(con, edges),
        "unmatched": sorted(con.execute(f"SELECT source, target, l_linenumber FROM ({unmatched})").fetchall()),
        "ambiguous": {int(k): int(n) for k, n in con.execute(ambiguous).fetchall()},
        "rows_in_scope": sum(
            con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
            for t in ("orders_existing", "orders_batch", "edges_existing", "edges_batch")
        ),
    }


# ---------------------------------------------------------------------------
# profiling: column stats, exact quantiles, quantile and histogram drift
# ---------------------------------------------------------------------------


def _quantile_rows(con, src: str, cols: list[str], probs: list[float], by_part: bool) -> dict:
    plist = "[" + ", ".join(repr(p) for p in probs) + "]"
    grp = f"CAST({PROFILE_PART} AS BIGINT)" if by_part else "NULL::BIGINT"
    out = {}
    for c in cols:
        rows = con.execute(
            f"SELECT {grp} AS part, quantile_cont(CAST({c} AS DOUBLE), {plist}) "
            f"FROM '{src}' GROUP BY 1"
        ).fetchall()
        for part, qs in rows:
            for p, q in zip(probs, qs):
                out[(part, c, p)] = q
    return out


def profile_expected(con, lineitem: str, baseline: str, num_cols, cat_cols, probs, hist_edges) -> dict:
    stats = {}
    for c in list(num_cols) + list(cat_cols):
        rows = con.execute(
            f"""SELECT CAST({PROFILE_PART} AS BIGINT), count(*),
                       count(*) - count({c}), count(DISTINCT {c}),
                       CAST(min({c}) AS VARCHAR), CAST(max({c}) AS VARCHAR)
                FROM '{lineitem}' GROUP BY 1"""
        ).fetchall()
        for part, n, nulls, distinct, mn, mx in rows:
            stats[(part, c)] = (n, nulls, distinct, mn, mx)
    hist = {}
    for c, edges in hist_edges.items():
        lo, hi, nb = float(edges[0]), float(edges[-1]), len(edges) - 1
        # Spark's width_bucket, in its operation order (an edge value lands
        # in the same bucket): nb * (x - lo) / (hi - lo), under/overflow 0, nb+1
        x = f"CAST({c} AS DOUBLE)"
        b = (
            f"CASE WHEN {x} < {lo} THEN 0 WHEN {x} >= {hi} THEN {nb + 1} "
            f"ELSE CAST(floor({float(nb)} * ({x} - {lo}) / ({hi} - {lo})) AS BIGINT) + 1 END"
        )
        base = dict(con.execute(f"SELECT {b}, count(*) FROM '{baseline}' GROUP BY 1").fetchall())
        cur: dict = {}
        for part, bucket, n in con.execute(
            f"SELECT CAST({PROFILE_PART} AS BIGINT), {b}, count(*) FROM '{lineitem}' GROUP BY 1, 2"
        ).fetchall():
            cur.setdefault(part, {})[bucket] = n
        for part, counts in cur.items():
            hist[(part, c)] = _psi_ks(base, counts)
    return {
        "rows": con.execute(f"SELECT count(*) FROM '{lineitem}'").fetchone()[0],
        "stats": stats,
        "quantiles": _quantile_rows(con, lineitem, num_cols, probs, True),
        "q_base": {(c, p): q for (_, c, p), q in _quantile_rows(con, baseline, num_cols, probs, False).items()},
        "drift": hist,
    }


def _psi_ks(base: dict, cur: dict, eps: float = 1e-6) -> tuple[float, float]:
    """PSI and KS over the union of buckets, as ``drift_metrics`` defines them."""
    nb, nc = sum(base.values()), sum(cur.values())
    psi = ks = cdf_b = cdf_c = 0.0
    for bucket in sorted(set(base) | set(cur)):
        pb, pc = base.get(bucket, 0) / nb, cur.get(bucket, 0) / nc
        psi += (pc - pb) * math.log((pc + eps) / (pb + eps))
        cdf_b += pb
        cdf_c += pc
        ks = max(ks, abs(cdf_c - cdf_b))
    return psi, ks


def close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
