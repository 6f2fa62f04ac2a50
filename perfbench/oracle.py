"""DuckDB oracle for the admin sweep.

The JVM returns the first output of every admin tool on every snapshot
(collected rows with their column names) together with the oracle SQL the
repository's query packs carry. Each oracled tool must match its SQL row for
row: same column set, same row count, same values (rows sorted by every
column; floats to 1e-9 relative). The reporter and action-plan outputs have
no SQL of their own; their per-finding counts are checked against counts
derived from the packs' SQL for the same snapshot."""
import decimal
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
ORACLED = ["compaction_plan", "merge_plan", "split_plan", "balance_moves", "weight_stats",
           "topology_asof", "topology_diff", "key_lookup"]

# reporters_run_all: finding problem -> SQL over the oracles giving its count
REPORTER_COUNTS = {
    "region exceeds compaction weight threshold":
        "SELECT SUM(n_critical + n_normal + n_low) FROM ({sev_rollup})",
    "server region count far from cluster average":
        "SELECT COUNT(*) FROM ({load_vs_avg}) WHERE severity <> 'NONE'",
    "region heap usage above 80%": "SELECT COUNT(*) FROM ({heap_pressure})",
    "table has mergeable small regions": "SELECT COUNT(*) FROM ({mergeables}) WHERE mergeable > 0",
    "table has stale snapshots": "SELECT COUNT(*) FROM ({snap_stats}) WHERE n_old > 0",
    "region stuck in transition": "SELECT COUNT(*) FROM ({stale_rit})",
}
# action_plans: plan kind -> SQL giving its row count
PLAN_COUNTS = {
    "compact plan entry": "SELECT COUNT(*) FROM ({compaction_plan})",
    "merge plan entry": "SELECT COUNT(*) FROM ({merge_plan})",
    "move plan entry": "SELECT COUNT(*) FROM ({move_plan})",
    "split plan entry": "SELECT COUNT(*) FROM ({split_plan})",
    "flush plan entry": "SELECT COUNT(*) FROM ({flush_queue})",
    "clear_queues plan entry": "SELECT 24",
}


def _q(c):
    return '"' + c.replace('"', '""') + '"'


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _sorted(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, x if x is not None else 0) for x in r))
    return [cols[i] for i in order], out


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
            isinstance(a, int) and isinstance(b, int)):
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    return a == b


def compare(got_cols, got_rows, con, want_sql):
    """None when the collected output equals the oracle's, else a reason."""
    rel = con.sql(want_sql)
    gc, gr = _sorted(got_cols, got_rows)
    wc, wr = _sorted(rel.columns, rel.fetchall())
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        for c, x, y in zip(gc, g, w):
            if not _same(x, y):
                return f"row {i} col {c}: got {x!r} want {y!r}"
    return None


def check_snapshot(snap_dir, outputs, oracle_sql):
    """{tool: reason} for every recorded tool output that fails its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(snap_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for tool in ORACLED:
        if tool not in outputs:     # a window can end before a sweep reaches the tool
            continue
        try:
            why = compare(outputs[tool]["columns"], outputs[tool]["rows"], con, oracle_sql[tool])
        except Exception as e:  # an oracle or read error is a failed check
            why = f"error: {e}"
        if why:
            bad[tool] = why
    for tool, table in (("reporters_run_all", REPORTER_COUNTS), ("action_plans", PLAN_COUNTS)):
        if tool not in outputs:
            continue
        try:
            out = outputs[tool]
            col = out["columns"].index("problem")
            got = {}
            for r in out["rows"]:
                got[r[col]] = got.get(r[col], 0) + 1
            for problem, sql in table.items():
                want = con.sql(sql.format(**oracle_sql)).fetchone()[0] or 0
                if got.get(problem, 0) != want:
                    bad[tool] = f"{problem!r}: {got.get(problem, 0)} findings, oracle says {want}"
                    break
        except Exception as e:
            bad.setdefault(tool, f"error: {e}")
    con.close()
    return bad
