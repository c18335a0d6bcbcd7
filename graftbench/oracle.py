"""Independent reference answers for every benchmark operation.

Cypher statements are checked against DuckDB over the same parquet: the
reference replays the client's writes in the order graft executed them and
answers each read with the template's SQL at that point. Analytics calls
are checked against networkx (SCC, weakly connected components, k-core,
BFS and Dijkstra distances, k-truss), a float power iteration for PageRank
(L1 tolerance), a modularity floor for Louvain, and the planted clusters
plus an exact DuckDB shingle Jaccard for near-duplicate clustering.

`check_cypher` and `check_analytics` return the indices of operations
whose answer is wrong; `python3 graftbench/oracle.py --self-test` shows a
corrupted answer being caught.
"""
import duckdb
import networkx as nx

PAGERANK_L1_PER_VERTEX = 1e-6
LOUVAIN_MODULARITY_FLOOR = 0.15
JACCARD = 0.8
KCORE_K = 4
KTRUSS_K = 4
BFS_HOPS = 6
LOUVAIN_LEVELS = 2
LOUVAIN_SWEEPS = 1


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def _rows(rows):
    key = lambda r: tuple((x is None, str(type(x)), x if x is not None else 0)
                          for x in r)
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=key)


def _connect(data_dir, tables):
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{path}/*.parquet')")
    return con


def check_cypher(data_dir, ops, sqls):
    """`ops`: graft's records in execution order (index i into `sqls`)."""
    con = _connect(data_dir, {"users": "vertices/User", "topics": "vertices/Topic",
                              "follows": "edges/FOLLOWS", "likes": "edges/LIKES"})
    wrong = []
    for op in ops:
        sql = sqls[op["i"]]
        if op["kind"] != "read":
            if sql:
                con.execute(sql)
            if "error" in op:
                wrong.append(op["i"])
            continue
        if "error" in op or _rows(op["rows"]) != _rows(con.execute(sql).fetchall()):
            wrong.append(op["i"])
    con.close()
    return wrong


def _graphs(data_dir):
    con = _connect(data_dir, {"follows": "edges/FOLLOWS"})
    edges = con.execute("SELECT src, dst, weight FROM follows").fetchall()
    con.close()
    dg = nx.MultiDiGraph()
    dg.add_weighted_edges_from(edges)
    simple = nx.DiGraph()
    simple.add_edges_from((s, d) for s, d, _ in edges)
    und = nx.Graph()
    und.add_edges_from((s, d) for s, d, _ in edges if s != d)
    return edges, dg, simple, und


def _labels_by_min(components):
    return {v: min(c) for c in components for v in c}


def _pagerank(edges, iters=10):
    nodes = {v for s, d, _ in edges for v in (s, d)}
    out = {}
    for s, _, _ in edges:
        out[s] = out.get(s, 0) + 1
    pr = dict.fromkeys(nodes, 1.0)
    for _ in range(iters):
        mass = dict.fromkeys(nodes, 0.0)
        for s, d, _ in edges:
            mass[d] += pr[s] / out[s]
        pr = {v: 0.15 + 0.85 * mass[v] for v in nodes}
    return pr


def _modularity(edges, part):
    g = nx.Graph()
    for s, d, _ in edges:
        w = g[s][d]["weight"] + 1 if g.has_edge(s, d) else 1
        g.add_edge(s, d, weight=w)
    comms = {}
    for v, c in part.items():
        comms.setdefault(c, set()).add(v)
    return nx.community.modularity(g, comms.values(), weight="weight")


def _near_dup_reference(data_dir, threshold):
    con = _connect(data_dir, {"docs": "docs"})
    pairs = con.execute(f"""
        WITH t AS (SELECT id, string_split_regex(lower(text), '\\s+') AS w FROM docs),
        sh AS (SELECT DISTINCT id, unnest(list_transform(range(1, len(w) - 1),
                 i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s FROM t),
        sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        inter AS (SELECT a.id AS a, b.id AS b, count(*) AS k FROM sh a
                  JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY a.id, b.id)
        SELECT a, b FROM inter JOIN sz x ON x.id = a JOIN sz y ON y.id = b
        WHERE k::DOUBLE / (x.n + y.n - k) >= {threshold}""").fetchall()
    con.close()
    g = nx.Graph()
    g.add_edges_from(pairs)
    return sorted(sorted(c) for c in nx.connected_components(g))


def check_analytics(data_dir, manifest, ops):
    """Return (wrong op indices, problems found in the inputs themselves,
    the Louvain partition's modularity)."""
    edges, dg, simple, und = _graphs(data_dir)
    wrong, input_problems = [], []
    nodes = set(simple.nodes)
    modularity = 0.0

    def as_map(rows):
        return {int(r[0]): r[1] for r in rows}

    for op in ops:
        name, rows = op["tpl"].split(".")[-1], op.get("rows")
        if "error" in op:
            wrong.append(op["i"])
            continue
        if name == "stronglyConnectedComponents":
            ok = as_map(rows) == _labels_by_min(nx.strongly_connected_components(simple))
        elif name == "connectedComponents":
            ok = as_map(rows) == _labels_by_min(nx.weakly_connected_components(simple))
        elif name == "kCore":
            ok = sorted(int(r[0]) for r in rows) == sorted(nx.k_core(und, KCORE_K).nodes)
        elif name == "kTruss":
            ref = sorted(tuple(sorted(e)) for e in nx.k_truss(und, KTRUSS_K).edges)
            ok = sorted(tuple(sorted((int(r[0]), int(r[1])))) for r in rows) == ref
        elif name == "bfsDistances":
            ref = nx.single_source_shortest_path_length(
                simple, manifest["bfs_source"], cutoff=BFS_HOPS)
            ok = as_map(rows) == ref
        elif name == "bidirWeightedDistance":
            try:
                ref = nx.dijkstra_path_length(dg, manifest["wsrc"], manifest["wdst"])
            except nx.NetworkXNoPath:
                ref = None
            ok = (rows is None and ref is None) or (
                rows is not None and ref is not None and abs(rows - ref) < 1e-9)
        elif name == "pageRankStable":
            ref = _pagerank(edges)
            got = as_map(rows)
            ok = set(got) == set(ref) and sum(
                abs(got[v] - ref[v]) for v in ref) <= PAGERANK_L1_PER_VERTEX * len(ref)
        elif name == "louvainLevels":
            part = as_map(rows)
            modularity = _modularity(edges, part)
            ok = (len(part) == len(rows) and set(part) == nodes and
                  modularity >= LOUVAIN_MODULARITY_FLOOR)
        elif name == "nearDupClusters":
            ref = _near_dup_reference(data_dir, JACCARD)
            if ref != manifest["planted"]:
                input_problems.append("planted near-duplicate clusters are not "
                                      "exactly the Jaccard-threshold clusters")
            got = sorted(sorted(int(x) for x in r[2].split(",")) for r in rows)
            ok = got == ref and all(
                int(r[1]) == len(r[2].split(",")) and
                int(r[0]) == min(int(x) for x in r[2].split(",")) for r in rows)
        else:
            raise ValueError(f"no reference for {op['tpl']}")
        if not ok:
            wrong.append(op["i"])
    return wrong, input_problems, modularity


def _self_test():
    """A corrupted answer is caught: run each checker on a tiny input with
    a correct answer (must pass) and a corrupted one (must fail)."""
    import os
    import tempfile

    import numpy as np
    import gen

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as d:
        users = dict(id=gen.pack("User", [1, 2, 3]), uid=np.array([1, 2, 3]),
                     name=np.array(["u1", "u2", "u3"]), age=np.array([20, 30, 40]),
                     region=np.array(["r0", "r0", "r1"]), score=np.array([5, 6, 7]))
        ids = users["id"]
        gen._write(users, f"{d}/vertices/User")
        gen._write(dict(id=gen.pack("Topic", [1]), tid=np.array([1]),
                        name=np.array(["t1"])), f"{d}/vertices/Topic")
        gen._write(dict(id=gen.pack("FOLLOWS", [1, 2, 3]), src=ids[[0, 1, 2]],
                        dst=ids[[1, 2, 0]], weight=np.array([1, 2, 3]),
                        ts=np.array([0, 0, 0])), f"{d}/edges/FOLLOWS")
        gen._write(dict(id=gen.pack("LIKES", [1]), src=ids[[0]],
                        dst=gen.pack("Topic", [1]), ts=np.array([0])),
                   f"{d}/edges/LIKES")
        sqls = [gen.READS["point"][1].format(k=2),
                "UPDATE users SET score = 9 WHERE uid = 2",
                gen.READS["point"][1].format(k=2)]
        good = [dict(i=0, kind="read", rows=[["u2", 30, 6]]),
                dict(i=1, kind="set"),
                dict(i=2, kind="read", rows=[["u2", 30, 9]])]
        assert check_cypher(d, good, sqls) == [], "correct Cypher answers flagged"
        stale = [good[0], good[1], dict(i=2, kind="read", rows=[["u2", 30, 6]])]
        assert check_cypher(d, stale, sqls) == [2], "a stale read was not caught"

        scc = [[int(v), int(ids[0])] for v in ids]
        good = [dict(i=0, tpl="algorithms.stronglyConnectedComponents", rows=scc)]
        assert check_analytics(d, {}, good)[0] == [], "correct SCC flagged"
        bad = [dict(i=0, tpl="algorithms.stronglyConnectedComponents",
                    rows=scc[:-1] + [[int(ids[2]), int(ids[2])]])]
        assert check_analytics(d, {}, bad)[0] == [0], "a corrupted SCC was not caught"
    print("oracle self-test: corrupted answers are caught")


if __name__ == "__main__":
    import sys
    if sys.argv[1:] != ["--self-test"]:
        raise SystemExit("usage: python3 graftbench/oracle.py --self-test")
    _self_test()
