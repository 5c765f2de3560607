"""Output checks, run outside the timed window.

SSSP is checked against an in-harness Dijkstra, the transpose against a
DuckDB `string_agg` over the same file, and the dedup ops against the
engine's own DuckDB oracle queries (`SparkEntry.oracleSql`). A check
returns None when the output is right, else a one-line reason.
"""
import glob
import heapq
import os

import duckdb
import numpy as np

INF = 65535.0  # the reference's "unreached" sentinel


def _text_lines(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not files:
        return None
    lines = []
    for f in files:
        with open(f) as fh:
            lines.extend(l.rstrip("\n") for l in fh if l.strip())
    return lines


class Graph:
    """Adjacency of one edge file, for the Dijkstra reference."""

    def __init__(self, npz_path):
        e = np.load(npz_path)
        order = np.argsort(e["src"], kind="stable")
        self.s_src = e["src"][order]
        self.s_dst = e["dst"][order].tolist()
        self.s_w = e["w"][order].tolist()
        self.has_out = set(np.unique(e["src"]).tolist())
        self._dist = {}

    def _out(self, u):
        lo = int(np.searchsorted(self.s_src, u, "left"))
        hi = int(np.searchsorted(self.s_src, u, "right"))
        return zip(self.s_dst[lo:hi], self.s_w[lo:hi])

    def expected_sssp(self, source):
        """Rows the reference prints: nodes with out-edges and nodes
        reached, sorted by id, unreached at the sentinel."""
        if source not in self._dist:
            dist = {source: 0}
            heap = [(0, source)]
            while heap:
                d, u = heapq.heappop(heap)
                if d > dist[u]:
                    continue
                for v, w in self._out(u):
                    nd = d + w
                    if nd < dist.get(v, float("inf")):
                        dist[v] = nd
                        heapq.heappush(heap, (nd, v))
            ids = sorted(self.has_out | set(dist))
            self._dist[source] = [(i, float(dist.get(i, INF))) for i in ids]
        return self._dist[source]


def check_sssp(out_dir, graph, source):
    lines = _text_lines(out_dir)
    if lines is None:
        return "no output"
    exp = graph.expected_sssp(source)
    if len(lines) != len(exp):
        return f"{len(lines)} rows, expected {len(exp)}"
    for line, (i, d) in zip(lines, exp):
        src, rest = line.split("\t")
        node, dist = rest.split(" ")
        if int(src) != source or int(node) != i or float(dist) != d:
            return f"row {line!r}, expected {source}\t{i} {d}"
    return None


def expected_reverse(tsv_path):
    """ReverseGraph's output lines: `node\\tsrc,src,...`, sources ascending
    with parallel edges kept, nodes ascending."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT dst, string_agg(CAST(src AS VARCHAR), ',' ORDER BY src) "
        f"FROM read_csv('{tsv_path}', delim='\t', header=false, "
        "columns={'src': 'BIGINT', 'dst': 'BIGINT'}) GROUP BY dst ORDER BY dst").fetchall()
    con.close()
    return [f"{n}\t{adj}" for n, adj in rows]


def check_reverse(out_dir, expected):
    lines = _text_lines(out_dir)
    if lines is None:
        return "no output"
    if len(lines) != len(expected):
        return f"{len(lines)} rows, expected {len(expected)}"
    for got, exp in zip(lines, expected):
        if got != exp:
            return f"row {got[:80]!r}, expected {exp[:80]!r}"
    return None


def oracle_tables(docs_path, oracle_sql, out_dir):
    """Run the dedup oracle queries once per corpus; cache them as parquet."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    paths = {}
    for name, sql in oracle_sql.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{paths[name]}' (FORMAT PARQUET)")
    con.close()
    return paths


def check_table(out_dir, expected_parquet):
    """Exact multiset compare of a parquet output against its oracle,
    columns matched by name. Returns (reason or None, rows, non-canonical
    rows when the table has an `is_canonical` column)."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no output", 0, 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet({files!r})")
    con.execute(f"CREATE VIEW exp AS SELECT * FROM read_parquet('{expected_parquet}')")
    got_cols = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
    exp_cols = sorted(r[0] for r in con.execute("DESCRIBE exp").fetchall())
    if got_cols != exp_cols:
        con.close()
        return f"columns {got_cols}, expected {exp_cols}", 0, 0
    cols = ", ".join(got_cols)
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM exp) "
        f"UNION ALL (SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM got))").fetchone()[0]
    dupes = 0
    if "is_canonical" in got_cols:
        dupes = con.execute("SELECT count(*) FROM got WHERE NOT is_canonical").fetchone()[0]
    con.close()
    if n_got != n_exp or diff:
        return f"{n_got} rows, expected {n_exp}; {diff} rows differ", n_got, dupes
    return None, n_got, dupes
