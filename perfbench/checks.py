"""Output checks for the benchmark's workloads.

Each check reads what the program committed and compares it with DuckDB
over the same files, or with a property the method must have. A check
returns a list of error strings; an empty list means the outputs are right.
"""
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb

BUILD_TABLES = ("transcripts", "triples", "edges", "vertices", "components", "measures")
RESUMED_TABLES = ("transcripts", "triples", "edges", "vertices")
RECOMPUTED_TABLES = ("components", "measures")
REL_TOL = 1e-9


# --- TableIO layout: <root>/<table>/_manifest.json, <root>/<table>/snap-<id>/{data,lineage}

def manifest(root, table):
    with open(os.path.join(root, table, "_manifest.json")) as f:
        return json.load(f)


def snap_ids(root, table):
    return sorted(int(os.path.basename(p)[5:]) for p in glob.glob(os.path.join(root, table, "snap-*")))


def data(root, table, snap=None, part="data"):
    """A DuckDB table expression over one snapshot (default: the committed one)."""
    sid = manifest(root, table)["id"] if snap is None else snap
    return f"read_parquet('{os.path.join(root, table, f'snap-{sid}', part)}/*.parquet')"


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def scalar(con, sql):
    return con.execute(sql).fetchone()[0]


def close(a, b):
    return a == b or (a is not None and b is not None
                      and abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b)))


def check_committed(con, root, table):
    """Lineage row counts add up to the manifest's, and to the rows read back."""
    m = manifest(root, table)
    lineage = scalar(con, f"SELECT coalesce(sum(row_count), 0) FROM {data(root, table, part='lineage')}")
    rows = scalar(con, f"SELECT count(*) FROM {data(root, table)}")
    if not lineage == m["row_count"] == rows:
        return [f"{table}: lineage rows {lineage}, manifest rows {m['row_count']}, rows read {rows}"]
    return []


# --- kg_build

def reference_measures(con, edges):
    """Measures recomputed in DuckDB from the committed edges."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE e AS SELECT src, dst FROM {edges}")
    con.execute("""CREATE OR REPLACE TEMP TABLE deg AS
        WITH o AS (SELECT src AS v, count(*) AS od FROM e GROUP BY src),
             i AS (SELECT dst AS v, count(*) AS id FROM e GROUP BY dst)
        SELECT coalesce(o.od, 0) AS od, coalesce(i.id, 0) AS id,
               coalesce(o.od, 0) + coalesce(i.id, 0) AS d
        FROM o FULL OUTER JOIN i ON o.v = i.v""")
    n, max_d, max_in, max_out = con.execute(
        "SELECT count(*), max(d), max(id), max(od) FROM deg").fetchone()
    m = scalar(con, "SELECT count(*) FROM e")
    m_unique = scalar(con, "SELECT count(*) FROM (SELECT DISTINCT src, dst FROM e)")
    reciprocal = scalar(con, """SELECT count(*) FROM e WHERE EXISTS
        (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)""")

    def h_index(col):
        ds = sorted((r[0] for r in con.execute(f"SELECT {col} FROM deg").fetchall()), reverse=True)
        return max([i + 1 for i, x in enumerate(ds) if x >= i + 1], default=0)

    return {
        "n": n, "m": m, "max_degree": max_d, "max_in_degree": max_in, "max_out_degree": max_out,
        "parallel_edges": m - m_unique,
        "reciprocity": reciprocal / m if m else None,
        "fill": m_unique / (n * n) if n else None,
        "h_index_u": h_index("d"), "h_index_d": h_index("id"),
    }


def measures_of(con, expr):
    return dict(con.execute(f"SELECT measure, value FROM {expr}").fetchall())


def check_build(round_dir, built_ids, resumed):
    """The build's snapshots and, when `resumed`, the resume after
    `components` and `measures` were dropped. `built_ids` maps each table to
    its snapshot id right after the build."""
    con = connect()
    root = os.path.join(round_dir, "tables")
    dropped = os.path.join(round_dir, "dropped")
    errors = []
    for t in BUILD_TABLES:
        errors += check_committed(con, root, t)
    if resumed:
        for t in RECOMPUTED_TABLES:
            errors += check_committed(con, dropped, t)

    triples = scalar(con, f"SELECT count(*) FROM {data(root, 'triples')}")
    edges = scalar(con, f"SELECT count(*) FROM {data(root, 'edges')}")
    if triples != edges:
        errors.append(f"triples has {triples} rows but edges has {edges}")

    split = scalar(con, f"""SELECT count(*) FROM {data(root, 'edges')} e
        LEFT JOIN {data(root, 'components')} a ON a.vertex = e.src
        LEFT JOIN {data(root, 'components')} b ON b.vertex = e.dst
        WHERE a.component IS NULL OR b.component IS NULL OR a.component <> b.component""")
    if split:
        errors.append(f"{split} edges have endpoints in different (or no) components")

    got = measures_of(con, data(root, "measures"))
    for k, want in reference_measures(con, data(root, "edges")).items():
        if k not in got or not close(got[k], want):
            errors.append(f"measure {k}: committed {got.get(k)}, recomputed {want}")

    if not resumed:
        return errors
    for t in RESUMED_TABLES:
        if not manifest(root, t)["id"] == snap_ids(root, t)[-1] == built_ids.get(t):
            errors.append(f"resume recommitted {t}: snapshots {snap_ids(root, t)}, "
                          f"id after build {built_ids.get(t)}")
    first = measures_of(con, data(dropped, "measures"))
    if first != got:
        diff = sorted(k for k in first.keys() | got.keys() if first.get(k) != got.get(k))
        errors.append(f"resumed measures differ from the first run's: {diff[:5]}")
    moved = scalar(con, f"""SELECT count(*) FROM
        (SELECT * FROM {data(dropped, 'components')} EXCEPT ALL SELECT * FROM {data(root, 'components')})""")
    if moved:
        errors.append(f"{moved} component assignments changed on resume")
    return errors


# --- kg_daily

def check_daily(round_dir, churn, extracted):
    """One kg_daily round: `churn` holds each batch's churn row in order and
    `extracted` each batch's count of extracted triples."""
    con = connect()
    root = os.path.join(round_dir, "tables")
    errors = check_committed(con, root, "dict") + check_committed(con, root, "canon_triples")
    batches = len(extracted)
    if len(churn) != batches:
        return errors + [f"{len(churn)} churn rows for {batches} batches"]
    if snap_ids(root, "dict") != list(range(batches)) or \
            snap_ids(root, "canon_triples") != list(range(batches)):
        return errors + [f"expected snapshots 0..{batches - 1}: dict {snap_ids(root, 'dict')}, "
                         f"canon_triples {snap_ids(root, 'canon_triples')}"]

    for k in range(batches):
        d = data(root, "dict", k)
        dup = scalar(con, f"SELECT count(*) - count(DISTINCT surface) FROM {d}")
        if dup:
            errors.append(f"dict snapshot {k}: {dup} surfaces have more than one id")
        if k:
            renamed = scalar(con, f"""SELECT count(*) FROM {data(root, 'dict', k - 1)} p
                LEFT JOIN {d} n ON n.surface = p.surface AND n.canonical = p.canonical
                WHERE n.surface IS NULL""")
            if renamed:
                errors.append(f"batch {k}: {renamed} earlier surface -> id assignments changed")

        c = churn[k]
        if c["n_removed"] != 0:
            errors.append(f"batch {k}: churn reports {c['n_removed']} removed edges")
        new = f"SELECT DISTINCT subj, pred, obj FROM {data(root, 'canon_triples', k)}"
        old = f"SELECT DISTINCT subj, pred, obj FROM {data(root, 'canon_triples', k - 1)}" if k else None
        added = scalar(con, f"SELECT count(*) FROM ({new}" + (f" EXCEPT {old})" if old else ")"))
        if c["n_added"] != added:
            errors.append(f"batch {k}: churn n_added {c['n_added']}, DuckDB counts {added} new edges")

    rows = scalar(con, f"SELECT count(*) FROM {data(root, 'canon_triples')}")
    if rows != sum(extracted):
        errors.append(f"canon_triples has {rows} rows, batches extracted {sum(extracted)} triples")
    return errors


# --- kg_topology

def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, (int, float)):
        return (2, float(v))
    return (3, str(v))


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return fa == fb or (math.isnan(fa) and math.isnan(fb))
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return a is b or (a is not None and b is not None and str(a) == str(b))


def compare_rows(got, want):
    """Exact comparison of two row lists (dicts): same column names, same
    row count, same values once rows are sorted by every column."""
    got = [{k.lower(): v for k, v in r.items()} for r in got]
    want = [{k.lower(): v for k, v in r.items()} for r in want]
    if not got and not want:
        return None
    cols, wcols = sorted(got[0]) if got else [], sorted(want[0]) if want else []
    if cols != wcols:
        return f"columns {cols} != oracle {wcols}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    g = sorted(([r[c] for c in cols] for r in got), key=lambda row: [_key(v) for v in row])
    w = sorted(([r[c] for c in cols] for r in want), key=lambda row: [_key(v) for v in row])
    for rg, rw in zip(g, w):
        if not all(_same(a, b) for a, b in zip(rg, rw)):
            return f"row {rg} != oracle {rw}"
    return None


def oracle_rows(con, sql):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return [dict(zip(cols, r)) for r in res.fetchall()]


def cached_oracle_rows(con, sql, data_dir, cache_dir):
    """`oracle_rows`, kept in `cache_dir` under a digest of the SQL and of
    every table file, so the oracle runs once per checkout and input."""
    if cache_dir is None:
        return oracle_rows(con, sql)
    h = hashlib.sha256(sql.encode())
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, h.hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rows = oracle_rows(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


def check_topology(round_dir, oracle_sql, data_dir, queries, cache_dir=None):
    """Each query's written result matches its DuckDB oracle over the same tables."""
    con = connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    errors = []
    for q in queries:
        files = glob.glob(os.path.join(round_dir, q, "*.parquet"))
        if not files:
            errors.append(f"{q}: no output")
            continue
        got = oracle_rows(con, f"SELECT * FROM read_parquet({files!r})")
        try:
            want = cached_oracle_rows(con, oracle_sql[q], data_dir, cache_dir)
        except duckdb.Error as e:
            errors.append(f"{q}: oracle failed: {e}")
            continue
        err = compare_rows(got, want)
        if err:
            errors.append(f"{q}: {err}")
    return errors


# --- dispatch over a run's result file

def check_result(res, data_root, cache_dir=None):
    """All checks for every round of one run."""
    errors = []
    info = res["info"]
    for i, r in enumerate(res["rounds"]):
        x = r["extra"]
        if r["failed"]:
            continue  # failed operations are counted, not checked
        try:
            if res["workload"] == "kg_build_daily":
                errs = check_build(x["dir"], x["built_ids"], x["resumed"])
                errs += check_daily(x["dir"], x["churn"], x["extracted"])
            else:
                with open(info["oracle_sql"]) as f:
                    sql = json.load(f)
                errs = check_topology(x["dir"], sql, os.path.join(data_root, info["scale"]),
                                      info["queries"], cache_dir)
        except (OSError, KeyError, duckdb.Error) as e:  # an output is missing or unreadable
            errs = [f"cannot check: {e!r}"]
        errors += [f"round {i}: {e}" for e in errs]
    return errors
