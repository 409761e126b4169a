"""Untimed answer checks, each computed without Spark.

- costar: a plain-Python BFS over the generated TSVs, with the program's
  level semantics, and the DOT text it should render.
- analytics: DuckDB runs each row's oracle SQL over the same parquet
  directory; results are compared after the canonicalisation of
  tools/local_verify.py.
- admission: no planted exact duplicate is admitted, every corpus read
  counts what was admitted, and the final state equals one admit of the
  union of the increments (the compositional contract of
  graft.pipeline.Admission).
"""
import csv
import hashlib
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

ACTOR_CATEGORIES = {"actor", "actress"}

# ---------------------------------------------------------------------------
# costar
# ---------------------------------------------------------------------------


def _tsv(path, header):
    with open(path, newline="") as f:
        rows = csv.reader(f, delimiter="\t", quoting=csv.QUOTE_NONE)
        if header:
            next(rows)
        for r in rows:
            yield [None if v == "\\N" else v for v in r]


def imdb_edges(d):
    """The (title, name) edge set ingest should build."""
    title = {r[0]: r[3] for r in _tsv(os.path.join(d, "basics.tsv"), True)}
    name = {r[0]: r[1] for r in _tsv(os.path.join(d, "names.tsv"), False)}
    edges = set()
    for r in _tsv(os.path.join(d, "principals.tsv"), True):
        if r[3] in ACTOR_CATEGORIES and r[2] in name and r[0] in title:
            t, n = title[r[0]], name[r[2]]
            if t is not None and n is not None:
                edges.add((t, n))
    return edges


def adjacency(edges, actor):
    """src -> dsts for the query type's orientation."""
    adj = {}
    for t, n in edges:
        s, d = (n, t) if actor else (t, n)
        adj.setdefault(s, set()).add(d)
    return adj


def costar_bfs(fwd, back, root, level):
    """Vertices, vertex edges and per-level new-vertex counts of a co-star
    query: level 1 is the root alone, each further level one two-hop
    expansion with a global visited set; edges are every (u, v) pair with
    u in an expanded frontier and v sharing a neighbour with u."""
    visited = {root} if root in fwd else set()
    frontier, edges, sizes = set(visited), set(), [len(visited)]
    for _ in range(1, level):
        if not frontier:
            break
        nxt = set()
        for u in frontier:
            for d in fwd[u]:
                for v in back[d]:
                    if v != u:
                        edges.add((u, v))
                        nxt.add(v)
        frontier = nxt - visited
        visited |= frontier
        sizes.append(len(frontier))
    return visited, edges, sizes


def _sanitize(s):
    return re.sub("[^A-Za-z1-9]", "_", s)


def _escape(s):
    return s.replace("\\", "\\\\").replace('"', '\\"')


def dot_lines(root, vedges):
    """The lines graft.output.Dot.render emits, as a multiset (their order
    among equal sort keys is not fixed)."""
    lines = ["digraph G {",
             f'  {_sanitize(root)} [label="{_escape(root)}", shape=box];']
    for v in {x for e in vedges for x in e} - {root}:
        lines.append(f'  {_sanitize(v)} [label="{_escape(v)}"];')
    for a, b in vedges:
        lines.append(f"  {_sanitize(a)} -> {_sanitize(b)};")
    return lines + ["}", ""]


def md5_sorted(lines):
    return hashlib.md5("\n".join(sorted(lines)).encode()).hexdigest()


def costar_expected(fwd, back, root, level):
    verts, vedges, sizes = costar_bfs(fwd, back, root, level)
    return {"vertices_md5": md5_sorted(verts),
            "edges_md5": md5_sorted(f"{a}\t{b}" for a, b in vedges),
            "dot_md5": md5_sorted(dot_lines(root, vedges)),
            "vertices": len(verts), "edges": len(vedges), "level_sizes": sizes}


def costar_ok(op, want):
    return op.get("ok") is True and all(
        op.get(k) == want[k] for k in
        ("vertices_md5", "edges_md5", "dot_md5", "vertices", "edges"))


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

def oracle_compare(data_dir, results_dir, oracle, names):
    """{name: (ok, expected_rows, message)} for each name in `names`."""
    import duckdb
    import pandas as pd
    from local_verify import TABLES, canon

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        try:
            want = canon(con.sql(oracle[name]).df())
            got = canon(pd.read_parquet(os.path.join(results_dir, name)))
        except Exception as e:  # noqa: BLE001 - reported as a wrong answer
            out[name] = (False, None, f"compare failed: {e}"[:400])
            continue
        if list(got.columns) != list(want.columns):
            out[name] = (False, len(want), f"columns {list(got.columns)} != "
                                           f"{list(want.columns)}")
        elif len(got) != len(want):
            out[name] = (False, len(want), f"rows {len(got)} != {len(want)}")
        else:
            bad = next((c for c in got.columns if (~((got[c] == want[c]) |
                        (got[c].isna() & want[c].isna()))).any()), None)
            out[name] = (bad is None, len(want),
                         "" if bad is None else f"column {bad} differs")
    return out


# ---------------------------------------------------------------------------
# admission
# ---------------------------------------------------------------------------


def admission_phase(phase, exact_ids):
    """Mark each measured op right or wrong; returns whether the final
    state meets the compositional contract, and notes on what did not."""
    exact = set(exact_ids)
    admitted = 0
    notes = []
    for op in phase["ops"]:
        if not op["ok"]:
            continue
        if op["kind"] == "admit":
            ids = op.get("admitted_ids", [])
            bad = exact.intersection(ids)
            admitted += len(ids)
            if bad:
                op["wrong"] = True
                notes.append(f"inc {op['key']}: admitted planted exact "
                             f"duplicates {sorted(bad)[:5]}")
        elif op["kind"] == "corpus" and op["rows"] != admitted:
            op["wrong"] = True
            notes.append(f"corpus read after inc {op['key']}: {op['rows']} rows, "
                         f"{admitted} admitted")
    contract = phase["corpus_ids"] == phase["oneshot_ids"]
    if not contract:
        notes.append(f"state has {len(phase['corpus_ids'])} ids, one-shot admit "
                     f"of the union {len(phase['oneshot_ids'])}")
    return contract, notes
