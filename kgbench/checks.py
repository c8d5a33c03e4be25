"""Output checks, run in DuckDB after the timed part of a run.

Each check returns a list of failure messages (empty = pass):
  graph_matches_oracle   committed nodes/edges equal the oracle graph derived
                         from the same events (order-independent, row multiset)
                         and per-type counts equal the kg_graph_size oracle
  tables_equal           two build outputs hold the same rows in every stage
  twins_match            each serving class's fixed request equals its oracle
"""
import glob
import json
import math
import os

import duckdb

STAGES = ["transcripts", "mentions", "resolved_calls", "resolved_entities", "api_links", "nodes", "edges"]
NODE_COLS = "node_type, node_key, name, conv_id, CAST(turn_idx AS VARCHAR), body"
EDGE_COLS = "edge_type, src_key, dst_key, strategy, CAST(round(confidence, 9) AS VARCHAR)"


def connect(work_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    tmp = os.path.join(work_dir, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def table_files(table_dir):
    """Parquet files of a snapshot table's latest manifest."""
    snaps = glob.glob(os.path.join(table_dir, "_snapshot-*.json"))
    if not snaps:
        raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    latest = max(snaps, key=lambda p: int(os.path.basename(p)[len("_snapshot-"):-len(".json")]))
    with open(latest) as fh:
        dirs = json.load(fh)["files"]
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(table_dir, d, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no data files under {table_dir}")
    return sorted(files)


def _rel(files):
    return "read_parquet([" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "])"


def _diff(con, a, b):
    n1 = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    return n1, n2


def load_oracle_graph(con, sql, events_path):
    """Evaluate the oracle graph once into oracle_nodes / oracle_edges."""
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    con.execute("CREATE OR REPLACE TABLE oracle_graph AS " + sql["graph"])
    con.execute("""CREATE OR REPLACE TABLE oracle_nodes AS
        SELECT a AS node_type, b AS node_key, c AS name, d AS conv_id,
               CAST(e AS INTEGER) AS turn_idx, f AS body FROM oracle_graph WHERE kind = 'node'""")
    con.execute("""CREATE OR REPLACE TABLE oracle_edges AS
        SELECT a AS edge_type, b AS src_key, c AS dst_key, d AS strategy,
               CAST(e AS DOUBLE) AS confidence FROM oracle_graph WHERE kind = 'edge'""")


def bind_graph(con, nodes_files, edges_files):
    """Point the `nodes` / `edges` views at a committed graph."""
    con.execute(f"CREATE OR REPLACE VIEW nodes AS SELECT * FROM {_rel(nodes_files)}")
    con.execute(f"CREATE OR REPLACE VIEW edges AS SELECT * FROM {_rel(edges_files)}")


def graph_matches_oracle(con, sql, graph_dir):
    """`graph_dir` holds committed `nodes` and `edges` tables."""
    bind_graph(con, table_files(os.path.join(graph_dir, "nodes")),
               table_files(os.path.join(graph_dir, "edges")))
    fails = []
    for kind, cols in (("nodes", NODE_COLS), ("edges", EDGE_COLS)):
        extra, missing = _diff(con, f"SELECT {cols} FROM {kind}", f"SELECT {cols} FROM oracle_{kind}")
        if extra or missing:
            fails.append(f"{kind}: {extra} rows not in the oracle graph, {missing} oracle rows missing")
    got = dict(con.execute(sql["graph_size"]).fetchall())
    con.execute("CREATE OR REPLACE VIEW nodes AS SELECT * FROM oracle_nodes")
    con.execute("CREATE OR REPLACE VIEW edges AS SELECT * FROM oracle_edges")
    want = dict(con.execute(sql["graph_size"]).fetchall())
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        fails.append(f"kg_graph_size differs for {bad[:5]}")
    return fails


def _select_list(con, rel):
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    out = []
    for name, typ, *_ in cols:
        q = '"' + name.replace('"', '""') + '"'
        out.append(f"CAST({q} AS VARCHAR)" if ("MAP" in typ or "[]" in typ or "STRUCT" in typ) else q)
    return ", ".join(out)


def tables_equal(con, dir_a, dir_b, stages=STAGES):
    fails = []
    for st in stages:
        ra = _rel(table_files(os.path.join(dir_a, st)))
        rb = _rel(table_files(os.path.join(dir_b, st)))
        cols = _select_list(con, ra)
        extra, missing = _diff(con, f"SELECT {cols} FROM {ra}", f"SELECT {cols} FROM {rb}")
        if extra or missing:
            fails.append(f"{st}: {extra} rows only in the first output, {missing} only in the second")
    return fails


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) if math.isfinite(v) else repr(v)
    return v


def _rows(rows):
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


def twins_match(con, sql, graph_dir, twins):
    """Oracle bodies run over the served (committed) graph, which
    graph_matches_oracle has already compared with the oracle graph."""
    bind_graph(con, table_files(os.path.join(graph_dir, "nodes")),
               table_files(os.path.join(graph_dir, "edges")))
    fails = []
    for name, got in twins.items():
        want = con.execute(sql[name]).fetchall()
        if not want:
            fails.append(f"{name}: oracle twin returned no rows")
        elif _rows(got) != _rows(want):
            fails.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    return fails
