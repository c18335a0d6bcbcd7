"""Seeded inputs for the graft benchmark.

Everything the program under test receives is made here from the seed:
a labeled property graph (User / Topic vertices, FOLLOWS / LIKES edges)
written as per-label parquet in the layout `GraphStore.load` reads, a
document corpus with planted near-duplicate clusters, and, for the Cypher
workloads, the closed-loop client's statement stream. Nothing here calls
into graft, so an edit to the program cannot change its own inputs.
"""
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = 8
LOCAL_BITS = 48

# Per-workload sizes. The Cypher graph is large enough that label scans and
# aggregates touch real data; the analytics graph is sized so one cold
# pass of all nine calls fits the run budget on a few cores.
SIZES = {
    "cypher_read": dict(users=4000, follows=20000, topics=100, likes=8000,
                        cycles=50, docs=0),
    "cypher_mixed": dict(users=4000, follows=20000, topics=100, likes=8000,
                         cycles=50, docs=0),
    "analytics": dict(users=1000, follows=5000, topics=50, likes=1000,
                      cycles=30, docs=500),
}

# Read templates: name -> (Cypher, reference SQL). graft binds a
# shortestPath variable to the vertex-id list, so its hop count is
# `size(p) - 1` (Planner.compileShortestPath); `{k}` is a User uid,
# `{k2}` a second uid, `{r}` a region name, `{t}` a degree threshold. The
# SQL runs in DuckDB over the same parquet (tables users, topics, follows,
# likes) after the same writes have been replayed.
READS = {
    "point": (
        "MATCH (u:User {{uid: {k}}}) RETURN u.name AS name, u.age AS age, "
        "u.score AS score",
        "SELECT name, age, score FROM users WHERE uid = {k}"),
    "hop1": (
        "MATCH (u:User {{uid: {k}}})-[f:FOLLOWS]->(v:User) "
        "RETURN v.uid AS uid, f.weight AS w",
        "SELECT v.uid, f.weight FROM users u JOIN follows f ON f.src = u.id "
        "JOIN users v ON v.id = f.dst WHERE u.uid = {k}"),
    "hop2": (
        "MATCH (u:User {{uid: {k}}})-[:FOLLOWS]->(:User)-[:FOLLOWS]->(w:User) "
        "RETURN w.uid AS uid, count(*) AS n",
        "SELECT w.uid, count(*) FROM users u JOIN follows f1 ON f1.src = u.id "
        "JOIN users x ON x.id = f1.dst JOIN follows f2 ON f2.src = x.id "
        "JOIN users w ON w.id = f2.dst WHERE u.uid = {k} GROUP BY w.uid"),
    "optional": (
        "MATCH (u:User {{uid: {k}}}) OPTIONAL MATCH (u)<-[:FOLLOWS]-(v:User) "
        "RETURN u.uid AS uid, count(v) AS followers",
        "SELECT u.uid, count(v.id) FROM users u LEFT JOIN "
        "(follows f JOIN users v ON v.id = f.src) ON f.dst = u.id "
        "WHERE u.uid = {k} GROUP BY u.uid"),
    "aggregate": (
        "MATCH (u:User)-[:LIKES]->(t:Topic) WHERE u.region = '{r}' "
        "RETURN t.name AS topic, count(*) AS n",
        "SELECT t.name, count(*) FROM users u JOIN likes l ON l.src = u.id "
        "JOIN topics t ON t.id = l.dst WHERE u.region = '{r}' GROUP BY t.name"),
    "vle": (
        "MATCH (u:User {{uid: {k}}})-[:FOLLOWS*1..3]->(v:User) "
        "WHERE v.uid <> {k} RETURN count(DISTINCT v.uid) AS n",
        "WITH RECURSIVE r(id, d) AS ("
        " SELECT f.dst, 1 FROM users u JOIN follows f ON f.src = u.id"
        " WHERE u.uid = {k}"
        " UNION SELECT f.dst, r.d + 1 FROM r JOIN follows f ON f.src = r.id"
        " WHERE r.d < 3) "
        "SELECT count(DISTINCT v.uid) FROM r JOIN users v ON v.id = r.id "
        "WHERE v.uid <> {k}"),
    "shortest": (
        "MATCH p = shortestPath((a:User {{uid: {k}}})-[:FOLLOWS*..4]->"
        "(b:User {{uid: {k2}}})) RETURN size(p) - 1 AS d",
        "WITH RECURSIVE r(id, d) AS ("
        " SELECT id, 0 FROM users WHERE uid = {k}"
        " UNION SELECT f.dst, r.d + 1 FROM r JOIN follows f ON f.src = r.id"
        " WHERE r.d < 4) "
        "SELECT min(r.d) FROM r JOIN users b ON b.id = r.id WHERE b.uid = {k2} "
        "HAVING min(r.d) IS NOT NULL"),
    "call": (
        "CALL graft.degrees() YIELD id, in_degree, out_degree "
        "WITH id, in_degree, out_degree WHERE out_degree >= {t} "
        "RETURN count(*) AS n, sum(in_degree) AS s",
        "WITH e AS (SELECT src, dst FROM follows UNION ALL "
        " SELECT src, dst FROM likes), "
        "o AS (SELECT src AS id, count(*) AS od FROM e GROUP BY src), "
        "i AS (SELECT dst AS id, count(*) AS idg FROM e GROUP BY dst), "
        "d AS (SELECT coalesce(o.id, i.id) AS id, coalesce(idg, 0) AS idg, "
        " coalesce(od, 0) AS od FROM o FULL OUTER JOIN i ON o.id = i.id) "
        "SELECT count(*), sum(idg) FROM d WHERE od >= {t}"),
}

# The statement order is fixed, not drawn from the seed: a run lasts as
# many statements as fit in its time, and with one order every seed runs
# the same template sequence, so runs differ in keys and graph only. The
# orders below are interleaved so that every window of a few statements
# has close to the cycle's template shares.
#
# The template shares are the benchmark's own choice, not taken from a
# measured workload: graft has no production query log to copy.
# Reads, one cycle of 25: 10 one-hop, 8 point lookups, 2 OPTIONAL MATCH,
# one each of two-hop, aggregate, CALL, VLE and shortestPath. One-hop and
# point reads are the bulk, as in an OLTP-style lookup service; one-hop is
# the middle 40%, so the median read is a one-hop read and does not flip
# between templates from run to run.
READ_ORDER = ["hop1", "point", "hop1", "optional", "hop1", "point", "hop1",
              "hop2", "point", "hop1", "aggregate", "point", "hop1", "call",
              "point", "hop1", "optional", "point", "hop1", "vle", "point",
              "hop1", "shortest", "point", "hop1"]
# cypher_mixed: per 25 statements, 15 reads (continuing READ_ORDER) and 10
# writes. The model is a 90% read / 10% write mix, but at 10% a 12 s run
# on 4 cores held 20 reads and 2 writes (one compaction), too few writes
# for a write latency tail; at 40% a 10 s run holds 8-10 writes.
MIXED_PATTERN = list("rwrwrrwrwrrwrwrrwrwrrwrwr")
WRITE_ORDER = ["create_edge", "set", "delete_edge", "merge", "create_edge",
               "create_node", "set", "delete_edge", "merge", "create_edge"]

ZIPF_S = 1.1


def java_hash(s):
    """java.lang.String.hashCode, as the Cypher planner derives label ids."""
    h = 0
    for c in s:
        h = (31 * h + ord(c)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= 1 << 31 else h


def labid(label):
    return abs(java_hash(label)) % 60000 + 100


def pack(label, local):
    """Graphid layout: 16-bit label id above a 48-bit local id (a label id
    of 2^15 or more makes the signed 64-bit id negative, as in the JVM)."""
    hi = labid(label) << LOCAL_BITS
    hi = hi - (1 << 64) if hi >= 1 << 63 else hi
    return np.int64(hi) | np.asarray(local, dtype=np.int64)


def _write(df_dict, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(df_dict), os.path.join(path, "part-0.parquet"))


def graph(rng, sz):
    """Power-law FOLLOWS digraph with region communities and planted cycles."""
    n = sz["users"]
    uid = np.arange(1, n + 1, dtype=np.int64)
    region = rng.integers(0, REGIONS, n)
    # Chung-Lu style propensities, capped so no single hub dominates a
    # 3-hop expansion; out- and in-propensity are independent.
    w_out = np.minimum(rng.pareto(1.8, n) + 1.0, 60.0)
    w_in = np.minimum(rng.pareto(1.8, n) + 1.0, 60.0)
    m = int(sz["follows"] * 1.25)
    src = rng.choice(n, m, p=w_out / w_out.sum())
    # 80% of edges stay inside the source's region: Louvain has structure
    # to find. Within a region the target is drawn by in-propensity.
    by_region = [np.flatnonzero(region == r) for r in range(REGIONS)]
    dst = rng.choice(n, m, p=w_in / w_in.sum())
    local = rng.random(m) < 0.8
    for r in range(REGIONS):
        members = by_region[r]
        sel = np.flatnonzero(local & (region[src] == r))
        p = w_in[members] / w_in[members].sum()
        dst[sel] = rng.choice(members, len(sel), p=p)
    pairs = np.stack([src, dst], 1)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    _, first = np.unique(pairs, axis=0, return_index=True)
    pairs = pairs[np.sort(first)][: sz["follows"]]
    # planted directed cycles of length 3..8: nontrivial SCCs that do not
    # depend on the random part
    cyc = []
    for _ in range(sz["cycles"]):
        c = rng.choice(n, rng.integers(3, 9), replace=False)
        cyc.extend(zip(c, np.roll(c, -1)))
    pairs = np.concatenate([pairs, np.array(cyc, dtype=pairs.dtype)])
    _, first = np.unique(pairs, axis=0, return_index=True)
    pairs = pairs[np.sort(first)]
    e = len(pairs)
    users = dict(
        id=pack("User", uid), uid=uid,
        name=np.array([f"u{u}" for u in uid]),
        age=rng.integers(18, 80, n).astype(np.int64),
        region=np.array([f"r{r}" for r in region]),
        score=rng.integers(0, 1000, n).astype(np.int64))
    follows = dict(
        id=pack("FOLLOWS", np.arange(1, e + 1)),
        src=users["id"][pairs[:, 0]], dst=users["id"][pairs[:, 1]],
        weight=rng.integers(1, 10, e).astype(np.int64),
        ts=(1_600_000_000 + rng.integers(0, 30_000_000, e)).astype(np.int64))
    t = sz["topics"]
    tid = np.arange(1, t + 1, dtype=np.int64)
    topics = dict(id=pack("Topic", tid), tid=tid,
                  name=np.array([f"t{i}" for i in tid]))
    lp = np.unique(np.stack([rng.integers(0, n, sz["likes"]),
                             rng.zipf(1.5, sz["likes"]) % t], 1), axis=0)
    likes = dict(
        id=pack("LIKES", np.arange(1, len(lp) + 1)),
        src=users["id"][lp[:, 0]], dst=topics["id"][lp[:, 1]],
        ts=(1_600_000_000 + rng.integers(0, 30_000_000, len(lp))).astype(np.int64))
    return users, topics, follows, likes


def documents(rng, n_docs, vocab=6000, words=60, clusters=25):
    """Random documents plus planted clusters of 2-4 near-duplicates.

    A copy differs from its base in letter case and whitespace only, so
    its word-3-shingle set is the base's (Jaccard 1.0) and any MinHash LSH
    must pair it; other pairs share almost no shingles. Copies that change
    a word are not planted: with Jaccard below 1 whether LSH pairs them
    depends on the hash family, and recall would no longer be a fixed
    property of the input.
    """
    lexicon = np.array([f"w{i}" for i in range(vocab)])
    texts, planted = [], []
    base_n = n_docs - clusters * 2
    for _ in range(base_n):
        texts.append(" ".join(lexicon[rng.integers(0, vocab, words)]))
    pos = 0
    while len(texts) < n_docs and pos < base_n:
        size = min(int(rng.integers(2, 5)), n_docs - len(texts) + 1)
        group = [pos]
        for j in range(size - 1):
            toks = texts[pos].split(" ")
            k = int(rng.integers(0, len(toks)))
            toks[k] = toks[k].upper()
            seps = rng.choice(np.array([" ", "  ", "\t", " \n"]), len(toks) - 1)
            group.append(len(texts))
            texts.append(toks[0] + "".join(s + t for s, t in zip(seps, toks[1:])))
        planted.append(group)
        pos += 1
    ids = np.arange(1, len(texts) + 1, dtype=np.int64)
    order = rng.permutation(len(texts))  # planted copies are not adjacent
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = ids
    clusters_out = sorted(sorted(int(doc_id[i]) for i in g) for g in planted)
    return dict(id=doc_id, text=np.array(texts)), clusters_out


def write_inputs(workload, seed, out):
    """Write the workload's parquet inputs under `out`; return a manifest."""
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, 1])
    users, topics, follows, likes = graph(rng, sz)
    _write(users, f"{out}/vertices/User")
    _write(topics, f"{out}/vertices/Topic")
    _write(follows, f"{out}/edges/FOLLOWS")
    _write(likes, f"{out}/edges/LIKES")
    manifest = dict(users=len(users["id"]), follows=len(follows["id"]),
                    topics=len(topics["id"]), likes=len(likes["id"]))
    if sz["docs"]:
        docs, planted = documents(rng, sz["docs"])
        _write(docs, f"{out}/docs")
        manifest.update(docs=len(docs["id"]), planted=planted)
    if workload == "analytics":
        n = len(users["id"])
        out_deg = np.bincount(np.searchsorted(users["id"], follows["src"]), minlength=n)
        in_deg = np.bincount(np.searchsorted(users["id"], follows["dst"]), minlength=n)
        src = int(np.argmax(out_deg))
        in_deg[src] = -1
        # traversal endpoints picked by structure, not at random, so the
        # number of rounds they take is alike from seed to seed: BFS from
        # the busiest source, weighted distance from it to the most
        # followed user
        manifest.update(bfs_source=int(users["id"][src]), wsrc=int(users["id"][src]),
                        wdst=int(users["id"][int(np.argmax(in_deg))]))
    return manifest


def _zipf_keys(rng, n):
    """Endless uids with Zipf(ZIPF_S)-skewed popularity over a seeded
    permutation, so hot keys are not the high-degree ones."""
    perm = rng.permutation(n) + 1
    while True:
        ranks = rng.zipf(ZIPF_S, 4096)
        yield from perm[ranks[ranks <= n] - 1].tolist()


def op_stream(workload, seed, manifest, edges, n_blocks=200):
    """The client's statements: (list of (kind, template, cypher, sql),
    number of leading warm-up statements).

    `edges` is the (src_uid, dst_uid) FOLLOWS pairs of the inputs; the
    stream tracks them so a DELETE always names an existing edge. The
    warm-up runs every template once during set-up; the measured phase
    continues the same stream, so the reference replays both.
    """
    rng = np.random.default_rng([seed, 2])
    n = manifest["users"]
    keys = _zipf_keys(rng, n)
    live = set(edges)
    live_list = list(edges)
    next_uid = n + 1
    ops = []

    def read(tpl):
        k, k2 = next(keys), next(keys)
        while k2 == k:
            k2 = next(keys)
        cy, sql = READS[tpl]
        args = dict(k=k, k2=k2, r=f"r{rng.integers(0, REGIONS)}",
                    t=int(rng.integers(5, 25)))
        return ("read", tpl, cy.format(**args), sql.format(**args))

    def write(kind):
        nonlocal next_uid
        if kind == "create_node":
            u = next_uid
            next_uid += 1
            age, reg, score = (int(rng.integers(18, 80)),
                               f"r{rng.integers(0, REGIONS)}",
                               int(rng.integers(0, 1000)))
            return (kind, kind,
                    f"CREATE (:User {{uid: {u}, name: 'u{u}', age: {age}, "
                    f"region: '{reg}', score: {score}}})",
                    f"INSERT INTO users VALUES ((SELECT max(id) + 1 FROM users), "
                    f"{u}, 'u{u}', {age}, '{reg}', {score})")
        if kind == "merge":
            # half the MERGEs find an existing user, half create one
            if rng.random() < 0.5:
                u = next(keys)
                return (kind, kind, f"MERGE (u:User {{uid: {u}}})", "")
            u = next_uid
            next_uid += 1
            return (kind, kind, f"MERGE (u:User {{uid: {u}}})",
                    f"INSERT INTO users VALUES ((SELECT max(id) + 1 FROM users), "
                    f"{u}, NULL, NULL, NULL, NULL)")
        if kind == "set":
            u, s = next(keys), int(rng.integers(0, 1000))
            return (kind, kind,
                    f"MATCH (u:User {{uid: {u}}}) SET u.score = {s}",
                    f"UPDATE users SET score = {s} WHERE uid = {u}")
        if kind == "create_edge":
            a, b = next(keys), next(keys)
            while a == b:
                b = next(keys)
            w, ts = int(rng.integers(1, 10)), 1_630_000_000 + int(rng.integers(0, 1e6))
            if (a, b) not in live:
                live.add((a, b))
                live_list.append((a, b))
            return (kind, kind,
                    f"MATCH (a:User {{uid: {a}}}), (b:User {{uid: {b}}}) "
                    f"CREATE (a)-[:FOLLOWS {{weight: {w}, ts: {ts}}}]->(b)",
                    f"INSERT INTO follows SELECT (SELECT max(id) + 1 FROM follows), "
                    f"a.id, b.id, {w}, {ts} FROM users a, users b "
                    f"WHERE a.uid = {a} AND b.uid = {b}")
        # delete_edge: pick a live edge (drawn uniformly)
        while True:
            i = int(rng.integers(0, len(live_list)))
            a, b = live_list[i]
            live_list[i] = live_list[-1]
            live_list.pop()
            if (a, b) in live:
                live.discard((a, b))
                break
        return (kind, kind,
                f"MATCH (a:User {{uid: {a}}})-[r:FOLLOWS]->(b:User {{uid: {b}}}) "
                f"DELETE r",
                f"DELETE FROM follows WHERE src = (SELECT id FROM users WHERE "
                f"uid = {a}) AND dst = (SELECT id FROM users WHERE uid = {b})")

    # warm-up: every template once, before the measured blocks
    ops.extend(read(t) for t in READS)
    if workload == "cypher_mixed":
        ops.extend(write(k) for k in dict.fromkeys(WRITE_ORDER))
    warm = len(ops)
    reads, writes = itertools.cycle(READ_ORDER), itertools.cycle(WRITE_ORDER)
    pattern = ["r"] * len(READ_ORDER) if workload == "cypher_read" else MIXED_PATTERN
    for _ in range(n_blocks):
        ops.extend(read(next(reads)) if slot == "r" else write(next(writes))
                   for slot in pattern)
    return ops, warm
