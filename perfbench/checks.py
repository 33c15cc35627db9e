"""Independent oracles for the medallion lake, computed with DuckDB from
the parquet files the engine wrote. Each check returns a list of
problems; an empty list means the lake is correct."""

from __future__ import annotations

import os

import duckdb

TABLES = ("transactions", "customers", "merchants")


def scan(path: str) -> str:
    """DuckDB table expression over a lake table directory (hive
    partition directories become columns)."""
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning=true, "
            "union_by_name=true)")


def _has_data(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _count(con, path: str) -> int:
    return con.execute(f"SELECT count(*) FROM {scan(path)}").fetchone()[0] \
        if _has_data(path) else 0


def _mismatches(con, name: str, ours: str, theirs: str, key: str,
                exact: list[str], approx: list[str] = ()) -> list[str]:
    """Rows where the recomputation ``ours`` and the engine's ``theirs``
    disagree on the join ``key``: exact columns compared as DECIMAL(38,2)
    / integers, ``approx`` columns within 1e-4."""
    conds = [f"o.{key} IS NULL", f"t.{key} IS NULL"]
    conds += [f"o.{c}::DECIMAL(38,2) IS DISTINCT FROM t.{c}::DECIMAL(38,2)"
              for c in exact]
    conds += [f"abs(o.{c}::DOUBLE - t.{c}::DOUBLE) > 1e-4" for c in approx]
    n = con.execute(
        f"SELECT count(*) FROM ({ours}) o FULL JOIN ({theirs}) t "
        f"ON o.{key} = t.{key} WHERE {' OR '.join(conds)}"
    ).fetchone()[0]
    return [f"{name}: {n} row(s) differ from the DuckDB recomputation"] if n else []


def daily_metrics(con, fact: str, gold_daily: str) -> list[str]:
    ours = f"""SELECT transaction_date, count(*) n_transactions,
        sum(amount_usd) total_amount_usd, avg(amount_usd) avg_amount_usd,
        count(DISTINCT customer_id) n_customers,
        count(DISTINCT merchant_id) n_merchants, sum(fee_amount) total_fees,
        sum(CASE WHEN is_flagged THEN 1 ELSE 0 END) n_flagged,
        sum(CASE WHEN status = 'COMPLETED' THEN 1 ELSE 0 END) n_completed
        FROM {scan(fact)} GROUP BY 1"""
    return _mismatches(
        con, "agg_daily_metrics", ours, f"SELECT * FROM {scan(gold_daily)}",
        "transaction_date",
        ["n_transactions", "total_amount_usd", "n_customers", "n_merchants",
         "total_fees", "n_flagged", "n_completed"], ["avg_amount_usd"])


def dense_keys(con, path: str, col: str) -> list[str]:
    lo, hi, distinct, n = con.execute(
        f"SELECT min({col}), max({col}), count(DISTINCT {col}), count(*) "
        f"FROM {scan(path)}").fetchone()
    if (lo, hi, distinct) != (1, n, n):
        return [f"{col}: keys are not dense 1..{n} "
                f"(min {lo}, max {hi}, {distinct} distinct)"]
    return []


def check_batch(lake: str) -> list[str]:
    """Invariants of a freshly built lake: bronze rows = silver valid +
    quarantined, fact rows = silver transactions, dense surrogate keys,
    and the three gold aggregates equal to a recomputation from silver."""
    con = duckdb.connect()
    try:
        problems = []
        for t in TABLES:
            bronze = _count(con, f"{lake}/bronze/{t}")
            silver = _count(con, f"{lake}/silver/{t}")
            quarantined = _count(con, f"{lake}/quarantine/{t}")
            if bronze == 0 or bronze != silver + quarantined:
                problems.append(f"{t}: bronze {bronze} != silver {silver} + "
                                f"quarantine {quarantined}")
        silver_txn = f"{lake}/silver/transactions"
        gold = f"{lake}/gold"
        fact_n = _count(con, f"{gold}/fact_transactions")
        if fact_n != _count(con, silver_txn):
            problems.append(f"fact rows {fact_n} != silver transactions")
        problems += dense_keys(con, f"{gold}/dim_customer", "customer_sk")
        problems += dense_keys(con, f"{gold}/dim_merchant", "merchant_sk")
        problems += daily_metrics(con, silver_txn, f"{gold}/agg_daily_metrics")
        problems += _mismatches(
            con, "agg_customer_360",
            f"""SELECT s.customer_id, count(*) n_transactions,
                sum(amount_usd) lifetime_value_usd,
                count(DISTINCT merchant_id) n_merchants_used,
                sum(CASE WHEN is_flagged THEN 1 ELSE 0 END) n_flagged,
                any_value(d.customer_sk) customer_sk
                FROM {scan(silver_txn)} s
                LEFT JOIN {scan(gold + '/dim_customer')} d USING (customer_id)
                GROUP BY 1""",
            f"SELECT * FROM {scan(gold + '/agg_customer_360')}", "customer_id",
            ["n_transactions", "lifetime_value_usd", "n_merchants_used",
             "n_flagged", "customer_sk"])
        problems += _mismatches(
            con, "agg_merchant_performance",
            f"""SELECT merchant_id, count(*) n_transactions,
                sum(amount_usd) gross_volume_usd, sum(fee_amount) fee_revenue_usd,
                count(DISTINCT customer_id) n_customers,
                sum(CASE WHEN status = 'FAILED' THEN 1 ELSE 0 END) n_failed
                FROM {scan(silver_txn)} GROUP BY 1""",
            f"SELECT * FROM {scan(gold + '/agg_merchant_performance')}",
            "merchant_id",
            ["n_transactions", "gross_volume_usd", "fee_revenue_usd",
             "n_customers", "n_failed"])
        return problems
    finally:
        con.close()


def partition_files(table: str) -> dict[str, list[tuple[str, int, int]]]:
    """Per partition directory: its data files as (name, size, mtime_ns)."""
    out = {}
    for entry in sorted(os.listdir(table)):
        part = os.path.join(table, entry)
        if os.path.isdir(part):
            out[entry] = sorted(
                (f, os.stat(os.path.join(part, f)).st_size,
                 os.stat(os.path.join(part, f)).st_mtime_ns)
                for f in os.listdir(part) if f.endswith(".parquet"))
    return out


def snapshot(lake: str, batch: str) -> dict:
    """What ``check_refresh`` compares against: fact partition files, the
    dates holding a key the batch restates, fact row count and the
    customer surrogate keys before the refresh."""
    con = duckdb.connect()
    try:
        fact = f"{lake}/gold/fact_transactions"
        return {
            "files": partition_files(fact),
            "restated_dates": {str(d) for (d,) in con.execute(
                f"SELECT DISTINCT transaction_date FROM {scan(fact)} WHERE "
                f"transaction_id IN (SELECT transaction_id FROM {scan(batch)})"
            ).fetchall()},
            "fact_rows": _count(con, fact),
            "customer_sk": dict(con.execute(
                f"SELECT customer_id, customer_sk FROM "
                f"{scan(lake + '/gold/dim_customer')}").fetchall()),
        }
    finally:
        con.close()


def check_refresh(lake: str, before: dict, batch: str, updates: str,
                  customers: str) -> list[str]:
    """After a day-N refresh: every batch row is in the fact with its
    values and date, new keys added and nothing duplicated, untouched
    date partitions keep their exact files, agg_daily_metrics equals a
    recomputation from the fact, customer keys stay stable and dense,
    and the SCD2 history has one current row per key holding the update."""
    con = duckdb.connect()
    try:
        problems = []
        gold = f"{lake}/gold"
        fact = f"{gold}/fact_transactions"
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT transaction_id) FROM {scan(fact)}"
        ).fetchone()
        if n != distinct:
            problems.append(f"fact holds {n - distinct} duplicate key(s)")
        added = con.execute(
            f"SELECT count(DISTINCT transaction_id) FROM {scan(batch)} "
            f"WHERE transaction_id LIKE 'TXNN%'").fetchone()[0]
        if n != before["fact_rows"] + added:
            problems.append(f"fact rows {n} != {before['fact_rows']} + {added} new")
        wrong = con.execute(
            f"SELECT count(*) FROM {scan(batch)} b LEFT JOIN {scan(fact)} f "
            f"USING (transaction_id) WHERE f.transaction_id IS NULL "
            f"OR f.amount_usd IS DISTINCT FROM b.amount_usd "
            f"OR f.transaction_date IS DISTINCT FROM b.transaction_date"
        ).fetchone()[0]
        if wrong:
            problems.append(f"{wrong} batch row(s) missing or stale in the fact")
        touched = {str(d) for (d,) in con.execute(
            f"SELECT DISTINCT transaction_date FROM {scan(batch)}").fetchall()}
        after = partition_files(fact)
        for part, files in before["files"].items():
            date = part.split("=", 1)[1]
            if date in touched or date in before["restated_dates"]:
                continue
            if after.get(part) != files:
                problems.append(f"untouched partition {part} was rewritten")
        problems += daily_metrics(con, fact, f"{gold}/agg_daily_metrics")
        keys = dict(con.execute(
            f"SELECT customer_id, customer_sk FROM {scan(gold + '/dim_customer')}"
        ).fetchall())
        moved = sum(1 for k, v in before["customer_sk"].items() if keys.get(k) != v)
        if moved:
            problems.append(f"{moved} existing customer key(s) changed")
        n_cust = _count(con, customers)
        if len(keys) != n_cust:
            problems.append(f"dim_customer {len(keys)} rows != snapshot {n_cust}")
        problems += dense_keys(con, f"{gold}/dim_customer", "customer_sk")
        hist = scan(f"{gold}/dim_customer_history")
        bad = con.execute(
            f"SELECT count(*) FROM (SELECT customer_id, "
            f"sum(CASE WHEN is_current THEN 1 ELSE 0 END) c FROM {hist} "
            f"GROUP BY 1) WHERE c != 1").fetchone()[0]
        if bad:
            problems.append(f"{bad} history key(s) without exactly one current row")
        stale = con.execute(
            f"SELECT count(*) FROM {scan(updates)} u LEFT JOIN "
            f"(SELECT * FROM {hist} WHERE is_current) h USING (customer_id) "
            f"WHERE h.segment IS DISTINCT FROM u.segment").fetchone()[0]
        if stale:
            problems.append(f"{stale} SCD2 update(s) not current in the history")
        return problems
    finally:
        con.close()
