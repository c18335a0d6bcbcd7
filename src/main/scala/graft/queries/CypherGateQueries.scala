package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cypher.CypherSession
import graft.store.GraphStore

/** The Cypher surface proven against the DuckDB oracle: every query here
  * goes through the full parse → plan → Catalyst pipeline over the TPC-H
  * graph projection, and its result must hash-match plain SQL over the raw
  * tables. This is the end-to-end evidence that the Cypher engine computes
  * the same answers as a relational oracle (SURVEY.md §3 entry point 1).
  *
  * Aggregates over doubles use min/max/count/integer-sum only (exact in
  * both engines); decimal-accumulation tricks are not expressible from
  * Cypher, so FP-accumulation-ordering-sensitive sums are avoided.
  */
object CypherGateQueries {

  private def cy(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => new CypherSession(s, GraphStore.tpch(s, dir)).run(q)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cy1_match_where" -> cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WHERE c.c_acctbal > 5000 AND o.o_orderstatus = 'F'
        |RETURN c.c_custkey AS ck, o.o_orderkey AS ok
        |ORDER BY ck, ok""".stripMargin),

    "cy2_agg_group" -> cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |RETURN c.c_mktsegment AS seg, count(o) AS n_orders,
        |  min(o.o_totalprice) AS min_price, max(o.o_totalprice) AS max_price,
        |  sum(o.o_orderkey) AS key_sum
        |ORDER BY seg""".stripMargin),

    "cy3_optional" -> cy(
      """MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS ck, count(o) AS n
        |ORDER BY ck""".stripMargin),

    "cy4_with_chain" -> cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c, count(o) AS n
        |WHERE n >= 12
        |RETURN c.c_custkey AS ck, n
        |ORDER BY ck""".stripMargin),

    "cy5_two_hop" -> cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)-[e:CONTAINS]->(p:Part)
        |WHERE c.c_custkey = 7
        |RETURN o.o_orderkey AS ok, p.p_partkey AS pk, e.l_quantity AS qty
        |ORDER BY ok, pk, qty""".stripMargin),

    "cy6_incoming" -> cy(
      """MATCH (n:Nation)<-[:CUST_NATION]-(c:Customer)
        |RETURN n.n_name AS nation, count(c) AS n_cust
        |ORDER BY nation""".stripMargin),

    "cy7_undirected" -> cy(
      """MATCH (n:Nation {n_nationkey: 3})-[:IN_REGION]-(x)
        |RETURN id(x) AS xid ORDER BY xid""".stripMargin),

    "cy8_varlen" -> cy(
      """MATCH (c:Customer {c_custkey: 1})-[*1..3]->(x)
        |RETURN labels(x) AS lab, count(*) AS n_paths
        |ORDER BY lab""".stripMargin),

    "cy9_expr" -> cy(
      """MATCH (p:Part)
        |WHERE p.p_size > 40 AND p.p_type STARTS WITH 'STANDARD'
        |RETURN p.p_partkey AS pk,
        |  CASE WHEN p.p_size >= 48 THEN 'xl' ELSE 'l' END AS cls,
        |  p.p_brand + ':' + p.p_type AS bt
        |ORDER BY pk""".stripMargin),

    "cy10_distinct_skip_limit" -> cy(
      """MATCH (c:Customer)-[:CUST_NATION]->(n:Nation)
        |RETURN DISTINCT n.n_name AS nation
        |ORDER BY nation SKIP 2 LIMIT 5""".stripMargin),

    "cy12_unwind" -> cy(
      """MATCH (n:Nation) UNWIND [1, 2, 3] AS m
        |RETURN n.n_nationkey * m AS v, count(*) AS c
        |ORDER BY v""".stripMargin),

    // parameter binding ($minbal) — parsed-only in the reference, executes here.
    "cy13_params" -> ((s, dir) => {
      new CypherSession(s, GraphStore.tpch(s, dir), Map("minbal" -> 5000.0))
        .run(
          """MATCH (c:Customer)-[:CUST_NATION]->(n:Nation)
            |WHERE c.c_acctbal > $minbal
            |RETURN n.n_name AS nation, count(c) AS n_rich
            |ORDER BY nation""".stripMargin)
    }),

    // var-length fidelity: inline edge-prop filter applied on EVERY
    // expansion step + relationship variable bound to the edge-id list
    // (reference match_executor.rs:128-213 filters per step).
    "cy14_varlen_props" -> cy(
      """MATCH (o:Order)-[r:CONTAINS {l_quantity: 5} *1..2]->(x)
        |RETURN size(r) AS hops, count(*) AS n_paths
        |ORDER BY hops""".stripMargin),

    // MERGE match-or-create (openCypher verb absent from the reference's
    // grammar): node form run twice must create once; relationship form
    // over pre-seeded edges must create exactly the missing pairs and be
    // a no-op on the second run. A duplicate hub doubles the count, a
    // duplicated seeded edge inflates it — either breaks the oracle hash.
    "cy15_merge" -> ((s, dir) => {
      val sess = new CypherSession(s, GraphStore.tpch(s, dir))
      sess.run("MERGE (h:Hub {name: 'hub'})")
      sess.run("MERGE (h:Hub {name: 'hub'})") // idempotent: matches, no create
      sess.run("MATCH (h:Hub), (n:Nation) WHERE n.n_nationkey < 5 CREATE (h)-[:LINKS]->(n)")
      sess.run("MATCH (h:Hub), (n:Nation) MERGE (h)-[:LINKS]->(n)") // fills the missing 20
      sess.run("MATCH (h:Hub), (n:Nation) MERGE (h)-[:LINKS]->(n)") // no-op
      sess.run(
        """MATCH (h:Hub)-[:LINKS]->(n:Nation)
          |RETURN h.name AS hub, count(n) AS n_linked""".stripMargin)
    }),

    // shortestPath() surfaced through the query language (the reference
    // has the algorithm only as an API, shortest_path.rs): customer 1 to
    // its region, path variable bound, hop cap from [*..6]. The region is
    // pinned via $rk (endpoints must resolve to one vertex — the
    // single-pair contract); the oracle recomputes dist with the same
    // recursive-CTE BFS as g12.
    "cy16_shortest_cypher" -> ((s, dir) => {
      val rk = GraphQueries.cust1RegionKey(s, dir)
      new CypherSession(s, GraphStore.tpch(s, dir), Map("rk" -> rk)).run(
        """MATCH p = shortestPath(
          |  (c:Customer {c_custkey: 1})-[*..6]->(r:Region {r_regionkey: $rk}))
          |RETURN id(c) AS start_id, id(r) AS end_id, size(p) - 1 AS dist""".stripMargin)
    }),

    // WEIGHTED shortestPath() through Cypher (the {weight: 'prop'} knob):
    // min-cost path from customer 1 to the farthest reachable vertex over
    // PLACED (cost 1.0, no l_quantity property) + CONTAINS (cost
    // l_quantity) — exactly g16's relation, now driven from the query
    // language. The target is data-derived (computed by the g16-proven
    // API) so the gate is meaningful at every scale factor; the oracle
    // recomputes the farthest vertex AND the min-cost min-parent path
    // independently in SQL. The path vertex sequence is the checked
    // output: it encodes every weighted choice the search made.
    "cy17_weighted_shortest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat_ws, lit, transform}
      val g = GraphStore.tpch(s, dir)
      val weighted = g.edges("PLACED")
        .select(col("src"), col("dst"), lit(1.0).as("weight"))
        .unionByName(g.edges("CONTAINS")
          .select(col("src"), col("dst"), col("l_quantity").cast("double").as("weight")))
      val start = graft.model.Graphid.pack(GraphStore.Lab.Customer, 1L)
      val parents = graft.algorithms.PregelSssp.parentsCheckpoint(s, weighted, start)
      val far =
        try parents.where(col("id") =!= start)
          .orderBy(col("dist").desc, col("id")).limit(1)
          .select("id").head.getLong(0)
        finally graft.util.Checkpoints.release(s, graft.util.Checkpoints.idsOf(parents))
      val farKey = graft.model.Graphid.unpack(far)._2
      new CypherSession(s, g, Map("pk" -> farKey)).run(
        """MATCH p = shortestPath((c:Customer {c_custkey: 1})
          |  -[:PLACED|CONTAINS *..6 {weight: 'l_quantity'}]->
          |  (b:Part {p_partkey: $pk}))
          |RETURN id(c) AS start_id, id(b) AS end_id, p AS path""".stripMargin)
        .select(col("start_id"), col("end_id"),
          concat_ws("-", transform(col("path"), _.cast("string"))).as("path_str"))
    }),

    // LDBC-SNB-interactive-shaped composite read (the reference defers
    // LDBC entirely, README.md:400-403): friends-of-friends over the
    // co-purchase graph with an attribute filter and an aggregation.
    // "Friends" of customer 1 = customers sharing a purchased part
    // (2-hop out + 2-hop back), filtered to customer 1's market segment,
    // grouped by nation, top-10. Exercises correlated multi-MATCH (join
    // on p, then on f), cross-variable WHERE, count(DISTINCT node),
    // ORDER BY + LIMIT — one query through the whole planner.
    "g20_ldbc_fof" -> cy(
      """MATCH (c:Customer {c_custkey: 1})-[:PLACED]->(:Order)-[:CONTAINS]->(p:Part)
        |MATCH (f:Customer)-[:PLACED]->(:Order)-[:CONTAINS]->(p)
        |MATCH (f)-[:CUST_NATION]->(n:Nation)
        |WHERE f.c_custkey <> 1 AND f.c_mktsegment = c.c_mktsegment
        |RETURN n.n_name AS nation, count(DISTINCT f) AS n_friends
        |ORDER BY n_friends DESC, nation
        |LIMIT 10""".stripMargin),

    // allShortestPaths (r7): EVERY minimum-length path c1 → supplier, one
    // row each. The target supplier is data-derived (most 3-hop routes
    // from customer 1, ties broken by key) so the gate has guaranteed
    // path multiplicity at every scale factor; the oracle re-derives the
    // target AND enumerates the distinct vertex sequences independently.
    "cy19_all_shortest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, concat_ws, transform}
      val g = GraphStore.tpch(s, dir)
      val sk = new CypherSession(s, g).run(
        """MATCH (c:Customer {c_custkey: 1})-[:PLACED]->(:Order)
          |  -[:CONTAINS]->(:Part)-[:SUPPLIED_BY]->(sp:Supplier)
          |RETURN sp.s_suppkey AS sk, count(*) AS n
          |ORDER BY n DESC, sk LIMIT 1""".stripMargin)
        .select(col("sk").cast("long")).head.getLong(0)
      new CypherSession(s, g, Map("sk" -> sk)).run(
        """MATCH p = allShortestPaths((c:Customer {c_custkey: 1})
          |  -[:PLACED|CONTAINS|SUPPLIED_BY *..5]->(b:Supplier {s_suppkey: $sk}))
          |RETURN id(c) AS start_id, id(b) AS end_id, p AS path""".stripMargin)
        .select(col("start_id"), col("end_id"),
          concat_ws("-", transform(col("path"), _.cast("string"))).as("path_str"))
        .orderBy(col("path_str"))
    }),

    // EXISTS / NOT EXISTS pattern predicates (r7): one semi + one anti
    // join compiled from WHERE conjuncts — the inline {o_orderstatus}
    // props inside the NOT EXISTS pattern exercise filtered anti-join
    // compilation. Neither engine had this surface before.
    "cy18_exists" -> cy(
      """MATCH (c:Customer)-[:CUST_NATION]->(n:Nation)
        |WHERE c.c_acctbal > 9000 AND EXISTS((c)-[:PLACED]->(:Order))
        |  AND NOT EXISTS((c)-[:PLACED]->(:Order {o_orderstatus: 'F'}))
        |RETURN n.n_name AS nation, count(c) AS n_cust
        |ORDER BY n_cust DESC, nation""".stripMargin),

    // FOREACH + REMOVE (r7; both beyond the reference grammar): a
    // collect-driven CREATE loop materializes one Depot per region key
    // (per-row CREATE cardinality — one node per loop element), then
    // REMOVE nulls the flag of the dkey>=3 depots — count(d.flag) must
    // drop exactly those. A FOREACH that loops wrong, a CREATE that
    // misreads the loop variable, or a REMOVE that nulls the wrong rows
    // each shifts a row of the per-depot output.
    "cy20_foreach" -> ((s, dir) => {
      val sess = new CypherSession(s, GraphStore.tpch(s, dir))
      sess.run(
        """MATCH (r:Region) WITH collect(r.r_regionkey) AS rks
          |FOREACH (k IN rks | CREATE (:Depot {dkey: k, flag: 1}))""".stripMargin)
      sess.run("MATCH (d:Depot) WHERE d.dkey >= 3 REMOVE d.flag")
      sess.run(
        """MATCH (d:Depot)
          |RETURN toInteger(d.dkey) AS dkey, count(d.flag) AS flagged
          |ORDER BY dkey""".stripMargin)
    }),

    // list expressions (r7; all beyond the reference grammar): a
    // comprehension, a reduce() fold, and two quantifiers over the same
    // collected key list, each independently recomputable as plain SQL
    // aggregation — a wrong filter, fold step, or quantifier boundary
    // shifts its column.
    "cy21_listexpr" -> cy(
      """MATCH (n:Nation) WITH collect(n.n_nationkey) AS ks
        |RETURN size([k IN ks WHERE k >= 10]) AS n_big,
        |       reduce(s = 0, k IN ks | s + k) AS total,
        |       toInteger(any(k IN ks WHERE k = 0)) AS has_zero,
        |       toInteger(none(k IN ks WHERE k > 100)) AS none_big""".stripMargin),

    // UNION / UNION ALL query combinator (r7; the reference grammar has
    // no union rule): nations hosting a rich customer OR a rich supplier
    // — plain UNION must dedupe nations that have both, and the ALL twin
    // must keep them, so the pair of gates pins both the combine and the
    // distinct step against SQL UNION / UNION ALL.
    "cy22_union" -> cy(
      """MATCH (c:Customer)-[:CUST_NATION]->(n:Nation) WHERE c.c_acctbal > 9900
        |RETURN n.n_name AS name
        |UNION
        |MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) WHERE s.s_acctbal > 9900
        |RETURN n.n_name AS name""".stripMargin),
    "cy23_union_all" -> cy(
      """MATCH (c:Customer)-[:CUST_NATION]->(n:Nation) WHERE c.c_acctbal > 9900
        |RETURN n.n_name AS name
        |UNION ALL
        |MATCH (s:Supplier)-[:SUPP_NATION]->(n:Nation) WHERE s.s_acctbal > 9900
        |RETURN n.n_name AS name""".stripMargin),

    // composite of the r7 surfaces in ONE statement — EXISTS pattern
    // predicate, collect, list comprehension, and reduce chained through
    // WITH: a regression in any one of them shifts a column of the
    // per-nation output.
    "cy24_composite" -> cy(
      """MATCH (c:Customer)-[:CUST_NATION]->(n:Nation)
        |WHERE c.c_acctbal > 9000 AND EXISTS((c)-[:PLACED]->(:Order))
        |WITH n, collect(c.c_custkey) AS cks
        |RETURN n.n_name AS nation, size(cks) AS n_cust,
        |       size([k IN cks WHERE k % 2 = 0]) AS n_even,
        |       reduce(s = 0, k IN cks | s + k) AS key_sum
        |ORDER BY nation""".stripMargin),

    // pattern comprehension + COUNT {} subquery (r8; both beyond the
    // reference grammar): per nation, the COUNT subquery counts its
    // customers and a size()-wrapped comprehension counts the rich subset
    // — each hoisted into ONE aggregating left join keyed on the nation
    // id (PlanAudit pins no cartesian / no per-row subquery loop). A
    // wrong seed, group key, or coalesce-fill shifts a row (Kenya/Jordan
    // style nations with zero rich customers exercise the empty fill).
    "cy25_subqueries" -> cy(
      """MATCH (n:Nation)
        |RETURN n.n_name AS nation,
        |       COUNT { (c:Customer)-[:CUST_NATION]->(n) } AS n_cust,
        |       size([(c:Customer)-[:CUST_NATION]->(n)
        |             WHERE c.c_acctbal > 5000 | c.c_custkey]) AS n_rich
        |ORDER BY nation""".stripMargin),

    // per-row node-form MERGE (r8): scope-dependent merge keys — one Seg
    // node per DISTINCT customer market segment, with ON CREATE / ON MATCH
    // splitting per key against the pre-merge store (BUILDING is
    // pre-seeded, so it alone takes the ON MATCH branch). The replay run
    // must match every key: if its ON CREATE fired anywhere, fresh flips
    // to 2 and the hash breaks; a duplicate Seg node doubles a row.
    "cy26_merge_perrow" -> ((s, dir) => {
      val sess = new CypherSession(s, GraphStore.tpch(s, dir))
      sess.run("CREATE (g:Seg {name: 'BUILDING', pre: 1})")
      sess.run(
        """MATCH (c:Customer) MERGE (g:Seg {name: c.c_mktsegment})
          |ON CREATE SET g.fresh = 1 ON MATCH SET g.seen = 1""".stripMargin)
      sess.run(
        """MATCH (c:Customer) MERGE (g:Seg {name: c.c_mktsegment})
          |ON CREATE SET g.fresh = 2""".stripMargin)
      sess.run(
        """MATCH (g:Seg)
          |RETURN g.name AS name, g.pre AS pre, g.fresh AS fresh, g.seen AS seen
          |ORDER BY name""".stripMargin)
    }),

    // CALL procedure surface (r8): whole-graph algorithms invoked from
    // Cypher, GDS style. Each gate composes CALL + YIELD (+ aliasing /
    // WHERE) with the ordinary pipeline — proof the procedure results are
    // first-class scope rows, and that the procedures themselves agree
    // with the same relational oracles that check the direct-API gates.
    "cy27_call_components" -> cy(
      """CALL graft.connectedComponents() YIELD id, component
        |RETURN component, count(*) AS n_vertices
        |ORDER BY component""".stripMargin),

    "cy28_call_kcore" -> cy(
      """CALL graft.kCore(3) YIELD id
        |RETURN count(*) AS n_core""".stripMargin),

    // CALL surface over the g40 integer-pure ANF sketch (r12): same TPC-H
    // store. Re-budgeted r17 to a 2-round radius (bench-budget
    // consolidation: the 4-round full sweep is already g40's
    // measurement; the CALL twin prices only the surface) — anfSql
    // parameterizes the same driver-green oracle text by round count.
    "cy39_call_anf" -> cy(
      """CALL graft.anf(2) YIELD h, n_regs, sum_lb, nf_est
        |RETURN h, n_regs, sum_lb, nf_est
        |ORDER BY h""".stripMargin),

    "cy29_call_degrees" -> cy(
      """CALL graft.degrees() YIELD id, in_degree AS ind, out_degree AS outd
        |WHERE outd > 20
        |RETURN id, ind, outd
        |ORDER BY id""".stripMargin),

    // CALL surface over the r8 walk sampler: 2 hash-guided walks of 6
    // steps from customer 1 (packed id literal — (1<<48)|1), the walk
    // corpus replayed bit-for-bit by the same unrolled-argmin oracle as
    // g27. 281474976710657 = Graphid.pack(Customer, 1).
    "cy30_call_walks" -> cy(
      """CALL graft.walks(281474976710657, 2, 6)
        |YIELD start_id, walk, step, id
        |RETURN start_id, walk, step, id
        |ORDER BY walk, step""".stripMargin),

    // Biased node2vec walks through the CALL surface (r19, the r18
    // verdict's #4 ask — the 5-arg form was spec-tested but not
    // gate-priced): the cy30 budget exactly (customer 1, 2 walks × 6
    // steps) with the g55 bias (p = 2, q = 3), so the twin's cost
    // surplus over cy30 IS the bias machinery's price on the session
    // graph. Oracle = the g55 unrolled replica-argmin CTEs
    // parameterized to this start.
    "cy55_call_walks_biased" -> cy(
      """CALL graft.walks(281474976710657, 2, 6, 2, 3)
        |YIELD start_id, walk, step, id
        |RETURN start_id, walk, step, id
        |ORDER BY walk, step""".stripMargin),

    // CALL { } subqueries (r8): the correlated-aggregate form — one row
    // per outer nation, empty invocations surviving with count 0 / NULL
    // max (the left-outer + fill path) — and the multiplying form (each
    // region row fans out by its invocation's rows, inner-join path).
    // Compiled as ONE seeded join each, never per-row execution.
    "cy31_call_subquery_agg" -> cy(
      """MATCH (n:Nation)
        |CALL { WITH n MATCH (c:Customer)-[:CUST_NATION]->(n)
        |       WHERE c.c_acctbal > 5000
        |       RETURN count(c) AS n_rich, max(c.c_acctbal) AS top_bal }
        |RETURN n.n_name AS nation, n_rich, top_bal
        |ORDER BY nation""".stripMargin),

    "cy32_call_subquery_rows" -> cy(
      """MATCH (r:Region)
        |CALL { WITH r MATCH (n:Nation)-[:IN_REGION]->(r)
        |       RETURN n.n_name AS nation }
        |RETURN r.r_name AS region, nation
        |ORDER BY region, nation""".stripMargin),

    // EXISTS { } existential subquery (r8, braces form with inner WHERE):
    // nations having a high-balance supplier AND lacking a low-balance
    // customer — the inner predicates filter the sub-match BEFORE the
    // key-distinct semi/anti join-back.
    "cy33_exists_subquery" -> cy(
      """MATCH (n:Nation)
        |WHERE EXISTS { MATCH (s:Supplier)-[:SUPP_NATION]->(n)
        |               WHERE s.s_acctbal > 9000 }
        |  AND NOT EXISTS { MATCH (c:Customer)-[:CUST_NATION]->(n)
        |                   WHERE c.c_acctbal < -900 }
        |RETURN n.n_name AS nation ORDER BY nation""".stripMargin),

    // point-to-point distance through the CALL surface (r8): the args are
    // runtime-computed packed ids (customer 1, the region one over from
    // its own - the 5-hop order->part->supplier chain), interpolated as
    // the integer literals the procedure grammar takes; reuses the g32
    // bidirectional search + oracle family.
    "cy34_call_distance" -> ((s, dir) => {
      val start = graft.model.Graphid.pack(GraphStore.Lab.Customer, 1L)
      val rk = GraphQueries.cust1RegionKey(s, dir)
      val dstFar = graft.model.Graphid.pack(GraphStore.Lab.Region, (rk + 1) % 5)
      new CypherSession(s, GraphStore.tpch(s, dir)).run(
        s"""CALL graft.distance($start, $dstFar, 6)
           |YIELD start_id, end_id, dist
           |RETURN start_id, end_id, dist""".stripMargin)
    }),

    // Weighted point-to-point distance through the CALL surface (r10):
    // the 4th argument names the edge cost property — CONTAINS edges
    // carry l_quantity, every other relation costs 1.0 (the coalesce
    // convention) — and the bidirectional Bellman-Ford must return the
    // MIN-COST route to the next region over, not the min-hop one.
    // l_quantity is integral in this data, so every path sum is an exact
    // small integer and the double-valued oracle compare is
    // association-free. arg 3 caps relaxation rounds (certification
    // throws loudly past it, so a green gate also proves convergence).
    "cy36_weighted_distance" -> ((s, dir) => {
      val start = graft.model.Graphid.pack(GraphStore.Lab.Customer, 1L)
      val rk = GraphQueries.cust1RegionKey(s, dir)
      val dstFar = graft.model.Graphid.pack(GraphStore.Lab.Region, (rk + 1) % 5)
      new CypherSession(s, GraphStore.tpch(s, dir)).run(
        s"""CALL graft.distance($start, $dstFar, 32, 'l_quantity')
           |YIELD start_id, end_id, dist
           |RETURN start_id, end_id, dist""".stripMargin)
    }),

    // Temporal latest-departure through the CALL surface (r12): the g36
    // sweep exposed as CALL graft.latestDeparture(target, deadline,
    // 'timeProp') over a store whose INTERACTS edges carry the derived
    // event-time property — target/deadline are the same runtime-computed
    // literals as g36 (highest user id, global max event time), so the
    // gate reuses g36's unrolled oracle verbatim. Edge times resolve
    // from the properties JSON; a missing time fails loudly (CypherSpec).
    // CALL surface over the g38 fastest-duration sweep (r12): the cy37
    // derived temporal store, source = the lowest user id; the engine
    // filters self-loops before deriving the departure set, so the g38
    // oracle form mirrors exactly. Re-budgeted r17 (bench-budget
    // consolidation): the full-log sweep is already g38's measurement,
    // so the CALL twin prices only the SURFACE on the 1/16 log slice
    // (the g49/g52 discipline) — fastestDurationSql parameterizes the
    // same driver-green oracle text with the slice filter.
    "cy38_fastest_duration" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.store.Tables.load(s, dir, "events")
        .where(col("event_id") % 16 === 0)
        .select(col("user_id").cast("long").as("u"),
          col("event_id").cast("long").as("eid"),
          unix_micros(col("ts")).as("t"))
      val b = ev.agg(max(col("u")), min(col("u"))).head()
      val (nu, srcU) = (b.getLong(0) + 1, b.getLong(1))
      val te = ev.select(col("eid").as("id"), col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      val verts = te.select(col("src").as("id"))
        .unionByName(te.select(col("dst").as("id"))).distinct()
      val store = new GraphStore(Map("User" -> verts),
        Map("INTERACTS" -> te))
      new CypherSession(s, store).run(
        s"""CALL graft.fastestDuration($srcU, 't')
           |YIELD id, duration
           |RETURN id AS user_id, duration
           |ORDER BY user_id""".stripMargin)
    }),

    // CALL surface over the g41 fewest-hops sweep (r12): same derived
    // temporal store as cy38, source = the lowest user id, hop budget 8,
    // unconstrained start (the engine derives t0 = min edge time, which
    // equals g41's global-min-event-time seed)
    "cy40_fewest_hops" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.store.Tables.load(s, dir, "events")
        .select(col("user_id").cast("long").as("u"),
          col("event_id").cast("long").as("eid"),
          unix_micros(col("ts")).as("t"))
      val b = ev.agg(max(col("u")), min(col("u"))).head()
      val (nu, srcU) = (b.getLong(0) + 1, b.getLong(1))
      val te = ev.select(col("eid").as("id"), col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      val verts = te.select(col("src").as("id"))
        .unionByName(te.select(col("dst").as("id"))).distinct()
      val store = new GraphStore(Map("User" -> verts),
        Map("INTERACTS" -> te))
      new CypherSession(s, store).run(
        s"""CALL graft.fewestHops($srcU, 8, 't')
           |YIELD id, hops
           |RETURN id AS user_id, hops
           |ORDER BY user_id""".stripMargin)
    }),

    "cy37_latest_departure" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.store.Tables.load(s, dir, "events")
        .select(col("user_id").cast("long").as("u"),
          col("event_id").cast("long").as("eid"),
          unix_micros(col("ts")).as("t"))
      val b = ev.agg(max(col("u")), max(col("t"))).head()
      val (nu, tMax) = (b.getLong(0) + 1, b.getLong(1))
      val te = ev.select(col("eid").as("id"), col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      val verts = te.select(col("src").as("id"))
        .unionByName(te.select(col("dst").as("id"))).distinct()
      val store = new GraphStore(Map("User" -> verts),
        Map("INTERACTS" -> te))
      new CypherSession(s, store).run(
        s"""CALL graft.latestDeparture(${nu - 1}, $tMax, 't')
           |YIELD id, depart
           |RETURN id AS user_id, depart
           |ORDER BY user_id""".stripMargin)
    }),

    // Weighted fastest duration through the CALL surface (r13): the g46
    // sweep exposed as the optional 3rd travel-time-property argument of
    // graft.fastestDuration, over the cy38 derived store whose INTERACTS
    // edges also carry w = eid % 5 + 1. Re-budgeted r17 onto the 1/16
    // log slice (the cy38 rationale — g46 already prices the full-log
    // weighted sweep); weightedDurationSql parameterizes the same
    // driver-green oracle text with the slice filter.
    "cy45_weighted_duration" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.store.Tables.load(s, dir, "events")
        .where(col("event_id") % 16 === 0)
        .select(col("user_id").cast("long").as("u"),
          col("event_id").cast("long").as("eid"),
          unix_micros(col("ts")).as("t"))
      val b = ev.agg(max(col("u")), min(col("u"))).head()
      val (nu, srcU) = (b.getLong(0) + 1, b.getLong(1))
      val te = ev.select(col("eid").as("id"), col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"),
        (col("eid") % 5 + 1).as("w"))
      val verts = te.select(col("src").as("id"))
        .unionByName(te.select(col("dst").as("id"))).distinct()
      val store = new GraphStore(Map("User" -> verts),
        Map("INTERACTS" -> te))
      new CypherSession(s, store).run(
        s"""CALL graft.fastestDuration($srcU, 't', 'w')
           |YIELD id, duration
           |RETURN id AS user_id, duration
           |ORDER BY user_id""".stripMargin)
    }),

    // Temporal k-reachability through the CALL surface (r13): the g37
    // sweep exposed as CALL graft.kReachable(src, t0, deadline, k,
    // 'timeProp') over the same derived temporal store as cy37/cy38 —
    // source = the lowest user id, t0/deadline the same runtime-computed
    // literals as g37 (global min event time, span midpoint via integer
    // div), so the gate answers to g37's unrolled oracle restricted to
    // that source. Missing edge times fail loudly (CypherSpec).
    "cy41_call_kreach" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.store.Tables.load(s, dir, "events")
        .select(col("user_id").cast("long").as("u"),
          col("event_id").cast("long").as("eid"),
          unix_micros(col("ts")).as("t"))
      val b = ev.agg(max(col("u")), min(col("t")), max(col("t")),
        min(col("u"))).head()
      val (nu, t0, tMax, srcU) =
        (b.getLong(0) + 1, b.getLong(1), b.getLong(2), b.getLong(3))
      val dl = t0 + (tMax - t0) / 2 // positive span: / == div == //
      val te = ev.select(col("eid").as("id"), col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      val verts = te.select(col("src").as("id"))
        .unionByName(te.select(col("dst").as("id"))).distinct()
      val store = new GraphStore(Map("User" -> verts),
        Map("INTERACTS" -> te))
      new CypherSession(s, store).run(
        s"""CALL graft.kReachable($srcU, $t0, $dl, 4, 't')
           |YIELD sid, n_reachable
           |RETURN sid AS user_id, n_reachable
           |ORDER BY user_id""".stripMargin)
    }),

    // Temporal stress through the CALL surface (r14): the g48 state-DAG
    // sweeps from the lowest user id on the cy41 event store, answering
    // to the single-source parameterization of the g48 oracle.
    "cy51_call_temporal_stress" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.store.Tables.load(s, dir, "events")
        .select(col("user_id").cast("long").as("u"),
          col("event_id").cast("long").as("eid"),
          unix_micros(col("ts")).as("t"))
      val b = ev.agg(max(col("u")), min(col("t")), min(col("u"))).head()
      val (nu, t0, srcU) = (b.getLong(0) + 1, b.getLong(1), b.getLong(2))
      val te = ev.select(col("eid").as("id"), col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      val verts = te.select(col("src").as("id"))
        .unionByName(te.select(col("dst").as("id"))).distinct()
      val store = new GraphStore(Map("User" -> verts),
        Map("INTERACTS" -> te))
      new CypherSession(s, store).run(
        s"""CALL graft.temporalStress($srcU, $t0, 4, 't')
           |YIELD id, stress
           |RETURN id AS user_id, stress
           |ORDER BY user_id""".stripMargin)
    }),

    // Mixing statistics through the CALL surface (r13): the g42 moment
    // digest over the same full TPC-H edge relation, answering to the
    // g42 oracle verbatim.
    "cy42_call_assortativity" -> cy(
      """CALL graft.assortativity() YIELD m, sx, sy, sxy, sxx, syy
        |RETURN m, sx, sy, sxy, sxx, syy""".stripMargin),

    // Reciprocity through the CALL surface (r13): a store built from the
    // same augmented referral digraph as g43 (the TPC-H store is a DAG —
    // reciprocity 0 would test nothing), answering to the g43 oracle
    // verbatim.
    "cy43_call_reciprocity" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val c = graft.store.Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"))
      val n = c.count()
      def ref(mul: Long, fam: Long) = c.select(
        (lit(fam * 1000000000000L) + col("k")).as("id"),
        col("k").as("src"), (lit(1L) + (col("k") * mul) % n).as("dst"),
        lit(fam).as("f"))
      val rev = c.where(col("k") % 5 === 0).select(
        (lit(2000000000000L) + col("k")).as("id"),
        (lit(1L) + (col("k") * 48271L) % n).as("src"),
        col("k").as("dst"), lit(2L).as("f"))
      val es = ref(48271L, 0L).unionByName(ref(16807L, 1L)).unionByName(rev)
      val verts = es.select(col("src").as("id"))
        .unionByName(es.select(col("dst").as("id"))).distinct()
      new CypherSession(s,
        new GraphStore(Map("User" -> verts), Map("REFERS" -> es))).run(
        """CALL graft.reciprocity() YIELD n_edges, n_recip, ratio_ppm
          |RETURN n_edges, n_recip, ratio_ppm""".stripMargin)
    }),

    // Louvain refinement through the CALL surface (r13): the g45 sweep's
    // refined labels on the g22-domain sub-store, folded in Cypher into
    // the community-size histogram (the g22 output shape) — two chained
    // aggregations over the yielded rows, answering to a histogram
    // read-off of the shared louvainCtes oracle prefix. Re-budgeted r17
    // to a 2-round LPA seed budget (bench-budget consolidation: the
    // 4-round seed + refine is already g45's measurement; louvainCtes
    // parameterizes the shared oracle prefix by LPA round count).
    "cy46_call_louvain" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      val sub = new GraphStore(g.vertexTables,
        g.edgeTables.view.filterKeys(
          Set("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")).toMap)
      new CypherSession(s, sub).run(
        """CALL graft.louvainRefine(2) YIELD id, lbl
          |WITH lbl, count(*) AS sz
          |RETURN sz, count(*) AS n_communities
          |ORDER BY sz""".stripMargin)
    }),

    // Corpus procedures through the CALL surface (r14): the pipeline
    // operators addressed from Cypher at a parquet corpus root — the
    // reference's lesson (REST-only algorithms) inverted: everything the
    // engine can compute is reachable from the query language. Each
    // answers to the SAME oracle as its direct-API twin (t14/d7/e2).
    "cy47_call_corpus_profile" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      new CypherSession(s, g).run(
        s"""CALL graft.corpusProfile('$dir')
           |YIELD source, n_docs, total_tokens, total_chars, alpha_chars,
           |      alpha_ratio, n_short, dominant_lang, n_exact_dup,
           |      dupspan_tokens
           |RETURN source, n_docs, total_tokens, total_chars, alpha_chars,
           |       alpha_ratio, n_short, dominant_lang, n_exact_dup,
           |       dupspan_tokens
           |ORDER BY source""".stripMargin)
    }),

    "cy48_call_dedup_clusters" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      new CypherSession(s, g).run(
        s"""CALL graft.dedupClusters('$dir', 500)
           |YIELD survivor_id, n_members, members
           |RETURN survivor_id, n_members, members
           |ORDER BY survivor_id""".stripMargin)
    }),

    "cy49_call_ann_topk" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      new CypherSession(s, g).run(
        s"""CALL graft.annTopK('$dir', 5, 0, 1, 2)
           |YIELD pid, rank, cid, sim
           |RETURN pid, rank, cid, sim
           |ORDER BY pid, rank""".stripMargin)
    }),

    // The r16 pipeline operators through CALL (r17): the REST-only-
    // algorithms lesson stays inverted for d11/e11 too. cy52 runs the
    // edit-distance verify at a HALVED threshold budget (8 vs d11's 16 —
    // the thresholded DP is O(len·maxDist) per candidate) AND, per the
    // r17 verdict re-budget, on the d11 gate's own HALF-corpus slice
    // (sliceMod 2 → doc_id % 2 = 1): the full-corpus LSH prefix is
    // already priced as d3, so the twin prices only the CALL surface;
    // the parameterized d11 oracle replays both knobs.
    "cy52_call_editdist" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      new CypherSession(s, g).run(
        s"""CALL graft.editDistPairs('$dir', 8, 2)
           |YIELD a, b, editdist
           |RETURN a, b, editdist
           |ORDER BY a, b""".stripMargin)
    }),

    // cy53 runs SemDeDup at exactly the e11 budget (k=10, iters=3,
    // tau=350 per-mille) so it answers to the e11 oracle VERBATIM — the
    // cy47/cy48/cy49 identical-engine-behind-both-surfaces pattern; the
    // k-means assignment and pair join are already priced by e7/e11.
    "cy53_call_semdedup" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      new CypherSession(s, g).run(
        s"""CALL graft.semDedup('$dir', 10, 3, 350)
           |YIELD cluster, vec_id, keeper, n_dups, max_sim
           |RETURN cluster, vec_id, keeper, n_dups, max_sim
           |ORDER BY cluster, vec_id""".stripMargin)
    }),

    // Borůvka MSF through the CALL surface (r18): the g56 engine over a
    // BOUNDED sub-store (supplier→nation stars ONLY — no customer/order/
    // lineitem fan-out, and no IN_REGION: the extra contraction level
    // would add a whole hook-and-contract round of pure job-floor cost;
    // the cy50 sub-store discipline). The label graph is a forest, so the
    // MSF is the graph itself and the oracle is a plain per-tree digest —
    // the ALGORITHM's cycle-dropping is priced and verified by g56; this
    // twin prices the CALL surface and the default-weight path.
    "cy54_call_mst" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      val sub = new GraphStore(g.vertexTables,
        g.edgeTables.view.filterKeys(Set("SUPP_NATION")).toMap)
      new CypherSession(s, sub).run(
        """CALL graft.mst() YIELD component, src, dst, w
          |WITH component, count(*) AS n_edges, sum(w) AS total_w
          |RETURN component, n_edges, total_w
          |ORDER BY component""".stripMargin)
    }),

    // Multi-level Louvain through the CALL surface (r14): the g47 engine
    // on the g22-domain sub-store. Re-budgeted r17 to a (1-level,
    // 2-sweep) budget — the multi-LEVEL machinery (coarsen + repeat) is
    // already g47's measurement at full budget; the CALL twin prices the
    // surface on one level. The partition is folded in Cypher into the
    // community-size histogram (the cy46 shape), answering to a
    // histogram read-off of the shared louvainLevelsCtes oracle prefix.
    "cy50_call_louvain_levels" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      val sub = new GraphStore(g.vertexTables,
        g.edgeTables.view.filterKeys(
          Set("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")).toMap)
      new CypherSession(s, sub).run(
        """CALL graft.louvain(1, 2) YIELD id, lbl
          |WITH lbl, count(*) AS sz
          |RETURN sz, count(*) AS n_communities
          |ORDER BY sz""".stripMargin)
    }),

    // Modularity through the CALL surface (r13): the g44 digest over a
    // sub-store restricted to the g22/g44 domain labels, answering to
    // the g44 oracle verbatim.
    "cy44_call_modularity" -> ((s, dir) => {
      val g = GraphStore.tpch(s, dir)
      val sub = new GraphStore(g.vertexTables,
        g.edgeTables.view.filterKeys(
          Set("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")).toMap)
      new CypherSession(s, sub).run(
        """CALL graft.modularity(4) YIELD m2, intra2, sum_dc2, n_comm
          |RETURN m2, intra2, sum_dc2, n_comm""".stripMargin)
    }),

    // path functions (r9): a MATCH-assigned path variable binds BOTH the
    // vertex-id and edge-id sequences; nodes()/relationships() compose
    // with reduce() into path strings the x4-family recursive CTE replays
    // bit-for-bit (edge ids included — the oracle rebuilds the store's
    // deterministic packed edge ids from the raw tables).
    "cy35_path_functions" -> cy(
      """MATCH p = (c:Customer {c_custkey: 1})-[*1..2]->(x)
        |RETURN size(relationships(p)) AS len,
        |  reduce(s = '', n IN nodes(p) | s + '->' + toString(n)) AS node_str,
        |  reduce(s = '', r IN relationships(p) | s + '->' + toString(r)) AS rel_str
        |ORDER BY len, node_str, rel_str""".stripMargin),

    // mutation roundtrip: create a node + edges, set, detach-delete a
    // victim, then count what remains — all through the Cypher session.
    "cy11_mutation" -> ((s, dir) => {
      val sess = new CypherSession(s, GraphStore.tpch(s, dir))
      sess.run("CREATE (h:Hub {name: 'hub'})")
      sess.run("MATCH (h:Hub), (n:Nation) CREATE (h)-[:LINKS {w: 1}]->(n)")
      sess.run("MATCH (h:Hub) SET h.name = 'HUB'")
      sess.run("MATCH (n:Nation {n_nationkey: 0}) DETACH DELETE n")
      sess.run(
        """MATCH (h:Hub)-[:LINKS]->(n:Nation)
          |RETURN h.name AS hub, count(n) AS n_linked""".stripMargin)
    }))

  val oracle: Map[String, String] = Map(
    // the CALL surface must answer to the SAME oracle as the g36 gate —
    // identical derived temporal graph, target, and deadline
    "cy37_latest_departure" -> GraphQueries.oracle("g36_temporal_depart"),
    // the g38 oracle text parameterized with the gate's 1/16 log slice
    // (r17 re-budget) — the relaxation itself is unchanged
    "cy38_fastest_duration" ->
      GraphQueries.fastestDurationSql(" WHERE event_id % 16 = 0"),
    // the g41 oracle restricted to its lowest source (the CALL's single
    // source), src_user column projected away
    "cy40_fewest_hops" ->
      s"""SELECT user_id, hops
         |FROM (${GraphQueries.oracle("g41_temporal_hops")})
         |WHERE src_user = (SELECT MIN(CAST(user_id AS BIGINT)) FROM events)
         |ORDER BY user_id""".stripMargin,
    // the g37 oracle restricted to its lowest source (the CALL's single
    // source)
    "cy41_call_kreach" ->
      s"""SELECT user_id, n_reachable
         |FROM (${GraphQueries.oracle("g37_temporal_kreach")})
         |WHERE user_id = (SELECT MIN(CAST(user_id AS BIGINT)) FROM events)
         |ORDER BY user_id""".stripMargin,
    // the CALL mixing/community surfaces answer to the SAME oracles as
    // their direct-API gates — identical relations by construction
    "cy42_call_assortativity" -> GraphQueries.oracle("g42_assortativity"),
    // the g46 oracle text parameterized with the gate's 1/16 log slice
    // (r17 re-budget)
    "cy45_weighted_duration" ->
      GraphQueries.weightedDurationSql(" WHERE event_id % 16 = 0"),
    "cy43_call_reciprocity" -> GraphQueries.oracle("g43_reciprocity"),
    "cy44_call_modularity" -> GraphQueries.oracle("g44_modularity"),
    // the refined-label community-size histogram off the same shared
    // Louvain sweep prefix the g45 digest reads, at the gate's 2-round
    // LPA-seed r17 re-budget
    "cy46_call_louvain" ->
      s"""WITH ${GraphQueries.louvainCtes(2)}
         |SELECT CAST(sz AS BIGINT) AS sz,
         |       CAST(COUNT(*) AS BIGINT) AS n_communities
         |FROM (SELECT lbl, COUNT(*) AS sz FROM newl GROUP BY lbl)
         |GROUP BY sz ORDER BY sz""".stripMargin,
    // the g48 sweeps with the source set restricted to the lowest user
    "cy51_call_temporal_stress" ->
      GraphQueries.temporalStressOracle("SELECT MIN(u) AS sid FROM ev"),
    // the corpus CALL gates answer to their direct-API twins' oracles
    // verbatim — identical engine code behind both surfaces
    "cy47_call_corpus_profile" ->
      graft.queries.PipelineQueries.oracle("t14_corpus_profile"),
    "cy48_call_dedup_clusters" ->
      graft.queries.PipelineQueries.oracle("d7_dedup_clusters"),
    "cy49_call_ann_topk" ->
      graft.queries.PipelineQueries.oracle("e2_ann_lsh"),
    // the d11 oracle text at the cy52 halved threshold over the d11
    // half-corpus slice (r18 re-budget); cy53 answers to the e11 oracle
    // verbatim
    "cy52_call_editdist" ->
      graft.queries.PipelineQueries.editDistOracleSql(8,
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)"),
    "cy53_call_semdedup" ->
      graft.queries.PipelineQueries.oracle("e11_semdedup"),
    // the cy54 sub-store graph is a FOREST (supplier→nation stars), so
    // the MSF is the graph itself: the oracle digests the trees directly
    // — min-reachable-id component labels (the engine's CC convention),
    // unit weights
    "cy54_call_mst" ->
      """WITH RECURSIVE e AS (
        |  SELECT (CAST(4 AS BIGINT)<<48)|CAST(s_suppkey AS BIGINT) AS src,
        |         (CAST(5 AS BIGINT)<<48)|CAST(s_nationkey AS BIGINT) AS dst,
        |         1 AS w
        |  FROM supplier),
        |und AS (SELECT src AS x, dst AS y FROM e UNION SELECT dst, src FROM e),
        |reach(x, y) AS (
        |  SELECT x, y FROM und
        |  UNION
        |  SELECT r.x, u.y FROM reach r JOIN und u ON u.x = r.y),
        |comp AS (SELECT x AS id, LEAST(x, MIN(y)) AS component
        |         FROM reach GROUP BY x)
        |SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(e.w) AS BIGINT) AS total_w
        |FROM e JOIN comp c ON c.id = e.src
        |GROUP BY c.component ORDER BY c.component""".stripMargin,
    // the multi-level flat-partition community-size histogram off the
    // same unrolled prefix the g47 digest reads, at the gate's
    // (1-level, 2-sweep) r17 re-budget
    "cy50_call_louvain_levels" ->
      s"""WITH ${GraphQueries.louvainLevelsCtes(1, 2)}
         |SELECT CAST(sz AS BIGINT) AS sz,
         |       CAST(COUNT(*) AS BIGINT) AS n_communities
         |FROM (SELECT lbl, COUNT(*) AS sz FROM flat1 GROUP BY lbl)
         |GROUP BY sz ORDER BY sz""".stripMargin,
    "cy1_match_where" ->
      """SELECT c_custkey AS ck, o_orderkey AS ok
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_acctbal > 5000 AND o_orderstatus = 'F'
        |ORDER BY ck, ok""".stripMargin,
    "cy2_agg_group" ->
      """SELECT c_mktsegment AS seg, COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY seg""".stripMargin,
    "cy3_optional" ->
      """SELECT c_custkey AS ck, COUNT(o_orderkey) AS n
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey
        |ORDER BY ck""".stripMargin,
    "cy4_with_chain" ->
      """SELECT c_custkey AS ck, COUNT(*) AS n
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey
        |HAVING COUNT(*) >= 12
        |ORDER BY ck""".stripMargin,
    "cy5_two_hop" ->
      """SELECT o_orderkey AS ok, l_partkey AS pk, l_quantity AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_custkey = 7
        |ORDER BY ok, pk, qty""".stripMargin,
    "cy6_incoming" ->
      """SELECT n_name AS nation, COUNT(*) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY nation""".stripMargin,
    "cy7_undirected" ->
      // Both-direction around nation 3: its region (out) plus its customers
      // and suppliers (in). IN_REGION only touches Nation/Region; undirected
      // = region of nation 3 UNION nations of region... nation 3 has no
      // incoming IN_REGION edges, so: the region vertex only.
      """SELECT (CAST(6 AS BIGINT)<<48)|CAST(n_regionkey AS BIGINT) AS xid
        |FROM nation WHERE n_nationkey = 3
        |ORDER BY xid""".stripMargin,
    "cy8_varlen" ->
      """WITH RECURSIVE edges AS (
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(o_custkey AS BIGINT) AS src,
        |         (CAST(2 AS BIGINT)<<48)|CAST(o_orderkey AS BIGINT) AS dst,
        |         'Order' AS dlab FROM orders
        |  UNION ALL
        |  SELECT (CAST(2 AS BIGINT)<<48)|CAST(l_orderkey AS BIGINT),
        |         (CAST(3 AS BIGINT)<<48)|CAST(l_partkey AS BIGINT), 'Part' FROM lineitem
        |  UNION ALL
        |  SELECT DISTINCT (CAST(3 AS BIGINT)<<48)|CAST(l_partkey AS BIGINT),
        |         (CAST(4 AS BIGINT)<<48)|CAST(l_suppkey AS BIGINT), 'Supplier' FROM lineitem
        |  UNION ALL
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(c_custkey AS BIGINT),
        |         (CAST(5 AS BIGINT)<<48)|CAST(c_nationkey AS BIGINT), 'Nation' FROM customer
        |  UNION ALL
        |  SELECT (CAST(4 AS BIGINT)<<48)|CAST(s_suppkey AS BIGINT),
        |         (CAST(5 AS BIGINT)<<48)|CAST(s_nationkey AS BIGINT), 'Nation' FROM supplier
        |  UNION ALL
        |  SELECT (CAST(5 AS BIGINT)<<48)|CAST(n_nationkey AS BIGINT),
        |         (CAST(6 AS BIGINT)<<48)|CAST(n_regionkey AS BIGINT), 'Region' FROM nation
        |),
        |walk(end_id, lab, len) AS (
        |  SELECT dst, dlab, 1 FROM edges WHERE src = (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT e.dst, e.dlab, w.len + 1 FROM walk w JOIN edges e ON e.src = w.end_id
        |  WHERE w.len < 3
        |)
        |SELECT lab, COUNT(*) AS n_paths FROM walk GROUP BY lab ORDER BY lab""".stripMargin,
    "cy9_expr" ->
      """SELECT p_partkey AS pk,
        |  CASE WHEN p_size >= 48 THEN 'xl' ELSE 'l' END AS cls,
        |  p_brand || ':' || p_type AS bt
        |FROM part
        |WHERE p_size > 40 AND p_type LIKE 'STANDARD%'
        |ORDER BY pk""".stripMargin,
    "cy10_distinct_skip_limit" ->
      """SELECT DISTINCT n_name AS nation
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |ORDER BY nation OFFSET 2 LIMIT 5""".stripMargin,
    "cy11_mutation" ->
      """SELECT 'HUB' AS hub, COUNT(*) AS n_linked
        |FROM nation WHERE n_nationkey <> 0""".stripMargin,
    "cy20_foreach" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS dkey,
        |  CAST(CASE WHEN r_regionkey < 3 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM region ORDER BY dkey""".stripMargin,
    "cy24_composite" ->
      """SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(COUNT(CASE WHEN c_custkey % 2 = 0 THEN 1 END) AS BIGINT) AS n_even,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9000
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name
        |ORDER BY nation""".stripMargin,
    "cy26_merge_perrow" ->
      """SELECT seg AS name,
        |  CAST(CASE WHEN seg = 'BUILDING' THEN 1 END AS BIGINT) AS pre,
        |  CAST(CASE WHEN seg <> 'BUILDING' THEN 1 END AS BIGINT) AS fresh,
        |  CAST(CASE WHEN seg = 'BUILDING' THEN 1 END AS BIGINT) AS seen
        |FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer)
        |ORDER BY name""".stripMargin,
    // the CALL gates reuse the already-proven algorithm oracles: identical
    // semantics, reshaped only where the Cypher query aggregates further
    // Bounded weighted walk over the full store relation (the cy17
    // pattern on the whole graph): CONTAINS costs l_quantity, everything
    // else 1.0; min cost at the far region. The graph is layer-acyclic,
    // so the len guard only bounds, never truncates, the optimum.
    "cy36_weighted_distance" ->
      """WITH RECURSIVE wedges AS (
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(o_custkey AS BIGINT) AS src,
        |         (CAST(2 AS BIGINT)<<48)|CAST(o_orderkey AS BIGINT) AS dst,
        |         CAST(1.0 AS DOUBLE) AS w FROM orders
        |  UNION ALL
        |  SELECT (CAST(2 AS BIGINT)<<48)|CAST(l_orderkey AS BIGINT),
        |         (CAST(3 AS BIGINT)<<48)|CAST(l_partkey AS BIGINT),
        |         CAST(l_quantity AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT DISTINCT (CAST(3 AS BIGINT)<<48)|CAST(l_partkey AS BIGINT),
        |         (CAST(4 AS BIGINT)<<48)|CAST(l_suppkey AS BIGINT),
        |         CAST(1.0 AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(c_custkey AS BIGINT),
        |         (CAST(5 AS BIGINT)<<48)|CAST(c_nationkey AS BIGINT),
        |         CAST(1.0 AS DOUBLE) FROM customer
        |  UNION ALL
        |  SELECT (CAST(4 AS BIGINT)<<48)|CAST(s_suppkey AS BIGINT),
        |         (CAST(5 AS BIGINT)<<48)|CAST(s_nationkey AS BIGINT),
        |         CAST(1.0 AS DOUBLE) FROM supplier
        |  UNION ALL
        |  SELECT (CAST(5 AS BIGINT)<<48)|CAST(n_nationkey AS BIGINT),
        |         (CAST(6 AS BIGINT)<<48)|CAST(n_regionkey AS BIGINT),
        |         CAST(1.0 AS DOUBLE) FROM nation
        |),
        |myreg AS (
        |  SELECT CAST(n_regionkey AS BIGINT) AS rk
        |  FROM nation JOIN customer ON n_nationkey = c_nationkey
        |  WHERE c_custkey = 1),
        |dst AS (SELECT (CAST(6 AS BIGINT)<<48)|((rk+1)%5) AS id FROM myreg),
        |walk(id, dist, len) AS (
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT),
        |         CAST(0.0 AS DOUBLE), 0
        |  UNION ALL
        |  SELECT e.dst, wk.dist + e.w, wk.len + 1
        |  FROM walk wk JOIN wedges e ON e.src = wk.id WHERE wk.len < 6
        |)
        |SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT) AS start_id,
        |       d.id AS end_id, MIN(wk.dist) AS dist
        |FROM dst d JOIN walk wk ON wk.id = d.id
        |GROUP BY d.id""".stripMargin,

    "cy34_call_distance" -> GraphQueries.bidirDistOracle(
      "SELECT (CAST(6 AS BIGINT)<<48)|((rk+1)%5) AS id FROM myreg"),
    "cy35_path_functions" -> {
      def pk(lab: Int, e: String) =
        s"(CAST($lab AS BIGINT)<<48)|CAST($e AS BIGINT)"
      val start = pk(1, "1")
      s"""WITH RECURSIVE eid AS (
         |  SELECT ${pk(17, "o_orderkey")} AS id, ${pk(1, "o_custkey")} AS src,
         |         ${pk(2, "o_orderkey")} AS dst FROM orders
         |  UNION ALL
         |  SELECT ${pk(18, "l_orderkey * 8 + l_linenumber")},
         |         ${pk(2, "l_orderkey")}, ${pk(3, "l_partkey")} FROM lineitem
         |  UNION ALL
         |  SELECT ${pk(19, "prov")}, ${pk(3, "pk")}, ${pk(4, "sk")}
         |  FROM (SELECT l_partkey AS pk, l_suppkey AS sk,
         |          MIN(l_orderkey * 8 + l_linenumber) AS prov
         |        FROM lineitem GROUP BY 1, 2)
         |  UNION ALL
         |  SELECT ${pk(20, "c_custkey")}, ${pk(1, "c_custkey")},
         |         ${pk(5, "c_nationkey")} FROM customer
         |  UNION ALL
         |  SELECT ${pk(21, "s_suppkey")}, ${pk(4, "s_suppkey")},
         |         ${pk(5, "s_nationkey")} FROM supplier
         |  UNION ALL
         |  SELECT ${pk(22, "n_nationkey")}, ${pk(5, "n_nationkey")},
         |         ${pk(6, "n_regionkey")} FROM nation
         |),
         |walk(end_id, vpath, epath, len) AS (
         |  SELECT dst, [$start, dst], [id], 1 FROM eid WHERE src = $start
         |  UNION ALL
         |  SELECT e.dst, list_append(w.vpath, e.dst), list_append(w.epath, e.id),
         |         w.len + 1
         |  FROM walk w JOIN eid e ON e.src = w.end_id
         |  WHERE w.len < 2 AND NOT list_contains(w.vpath, e.dst)
         |)
         |SELECT CAST(len AS BIGINT) AS len,
         |  '->' || array_to_string(vpath, '->') AS node_str,
         |  '->' || array_to_string(epath, '->') AS rel_str
         |FROM walk ORDER BY len, node_str, rel_str""".stripMargin
    },
    "cy27_call_components" -> ExtraQueries.oracle("x7_components"),
    // the g40 oracle text parameterized to the gate's 2-round radius
    // budget (r17 re-budget)
    "cy39_call_anf" -> GraphQueries.anfSql(2),
    "cy28_call_kcore" ->
      s"""SELECT CAST(SUM(n_core) AS BIGINT) AS n_core
         |FROM (${GraphQueries.oracle("g17_kcore")})""".stripMargin,
    "cy29_call_degrees" ->
      s"""SELECT id, in_degree AS ind, out_degree AS outd
         |FROM (${ExtraQueries.oracle("x8_degrees")})
         |WHERE out_degree > 20
         |ORDER BY id""".stripMargin,
    "cy30_call_walks" -> GraphQueries.walkOracle("c_custkey = 1", 2, 6),
    "cy55_call_walks_biased" ->
      GraphQueries.node2vecOracle("c_custkey = 1", 2, 6, 2, 3),
    "cy33_exists_subquery" ->
      """SELECT n_name AS nation FROM nation
        |WHERE EXISTS (SELECT 1 FROM supplier
        |              WHERE s_nationkey = n_nationkey AND s_acctbal > 9000)
        |  AND NOT EXISTS (SELECT 1 FROM customer
        |                  WHERE c_nationkey = n_nationkey AND c_acctbal < -900)
        |ORDER BY nation""".stripMargin,
    "cy31_call_subquery_agg" ->
      """SELECT n_name AS nation,
        |  CAST(COALESCE(x.n_rich, 0) AS BIGINT) AS n_rich, x.top_bal
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, COUNT(*) AS n_rich, MAX(c_acctbal) AS top_bal
        |  FROM customer WHERE c_acctbal > 5000 GROUP BY 1) x
        |  ON x.c_nationkey = n_nationkey
        |ORDER BY nation""".stripMargin,
    "cy32_call_subquery_rows" ->
      """SELECT r_name AS region, n_name AS nation
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |ORDER BY region, nation""".stripMargin,
    "cy25_subqueries" ->
      """SELECT n_name AS nation,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_nationkey = n_nationkey) AS n_cust,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_nationkey = n_nationkey AND c_acctbal > 5000) AS n_rich
        |FROM nation
        |ORDER BY nation""".stripMargin,
    "cy22_union" ->
      """SELECT n_name AS name FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9900
        |UNION
        |SELECT n_name AS name FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |WHERE s_acctbal > 9900""".stripMargin,
    "cy23_union_all" ->
      """SELECT n_name AS name FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9900
        |UNION ALL
        |SELECT n_name AS name FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |WHERE s_acctbal > 9900""".stripMargin,
    "cy21_listexpr" ->
      """SELECT CAST(COUNT(CASE WHEN n_nationkey >= 10 THEN 1 END) AS BIGINT) AS n_big,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS total,
        |  CAST(CASE WHEN BOOL_OR(n_nationkey = 0) THEN 1 ELSE 0 END AS BIGINT) AS has_zero,
        |  CAST(CASE WHEN BOOL_OR(n_nationkey > 100) THEN 0 ELSE 1 END AS BIGINT) AS none_big
        |FROM nation""".stripMargin,
    "cy15_merge" ->
      """SELECT 'hub' AS hub, COUNT(*) AS n_linked FROM nation""".stripMargin,
    "cy16_shortest_cypher" ->
      s"""WITH RECURSIVE ${GraphQueries.edgesCte},
         |dstv AS (
         |  SELECT (CAST(6 AS BIGINT)<<48)|CAST(n_regionkey AS BIGINT) AS id
         |  FROM nation JOIN customer ON n_nationkey = c_nationkey
         |  WHERE c_custkey = 1
         |),
         |bfs(id, dist) AS (
         |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT), 0
         |  UNION ALL
         |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.id
         |  WHERE b.dist < 6
         |)
         |SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT) AS start_id,
         |  d.id AS end_id, CAST(MIN(b.dist) AS BIGINT) AS dist
         |FROM dstv d JOIN bfs b ON b.id = d.id
         |GROUP BY d.id""".stripMargin,
    "cy19_all_shortest" ->
      // suppliers are first reachable from a customer at hop 3 (the only
      // out-chain is PLACED→CONTAINS→SUPPLIED_BY), so ALL shortest paths
      // are the distinct (order, part) routes into the target supplier;
      // SUPPLIED_BY is the DISTINCT (part, supplier) projection of lineitem
      """WITH sb AS (
        |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
        |),
        |target AS (
        |  SELECT sb.sk AS s
        |  FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN sb ON sb.pk = l.l_partkey
        |  WHERE o.o_custkey = 1
        |  GROUP BY sb.sk
        |  ORDER BY COUNT(*) DESC, sb.sk
        |  LIMIT 1
        |),
        |routes AS (
        |  SELECT DISTINCT o.o_orderkey AS ok, l.l_partkey AS pk, t.s AS s
        |  FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN sb ON sb.pk = l.l_partkey
        |  JOIN target t ON t.s = sb.sk
        |  WHERE o.o_custkey = 1
        |)
        |SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT) AS start_id,
        |  (CAST(4 AS BIGINT)<<48)|CAST(s AS BIGINT) AS end_id,
        |  CAST((CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT) AS VARCHAR) || '-' ||
        |  CAST((CAST(2 AS BIGINT)<<48)|CAST(ok AS BIGINT) AS VARCHAR) || '-' ||
        |  CAST((CAST(3 AS BIGINT)<<48)|CAST(pk AS BIGINT) AS VARCHAR) || '-' ||
        |  CAST((CAST(4 AS BIGINT)<<48)|CAST(s AS BIGINT) AS VARCHAR) AS path_str
        |FROM routes
        |ORDER BY path_str""".stripMargin,

    "cy18_exists" ->
      """SELECT n_name AS nation, COUNT(*) AS n_cust
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE c_acctbal > 9000
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY n_name
        |ORDER BY n_cust DESC, nation""".stripMargin,

    "g20_ldbc_fof" ->
      """WITH cseg AS (SELECT c_mktsegment AS seg FROM customer WHERE c_custkey = 1),
        |cparts AS (
        |  SELECT DISTINCT l_partkey AS pk
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_custkey = 1
        |),
        |friends AS (
        |  SELECT DISTINCT o.o_custkey AS fk
        |  FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN cparts p ON p.pk = l.l_partkey
        |  JOIN customer f ON f.c_custkey = o.o_custkey
        |  JOIN cseg s ON f.c_mktsegment = s.seg
        |  WHERE o.o_custkey <> 1
        |)
        |SELECT n_name AS nation, COUNT(*) AS n_friends
        |FROM friends
        |JOIN customer f ON f.c_custkey = friends.fk
        |JOIN nation ON n_nationkey = f.c_nationkey
        |GROUP BY n_name
        |ORDER BY n_friends DESC, nation
        |LIMIT 10""".stripMargin,

    "cy17_weighted_shortest" ->
      // g16's weighted min-cost min-parent oracle (bounded Bellman-Ford on
      // the depth-2 PLACED+CONTAINS DAG + parent walk), emitting the path
      // only — the Cypher surface binds p but does not expose the cost
      """WITH RECURSIVE we AS (
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(o_custkey AS BIGINT) AS src,
        |         (CAST(2 AS BIGINT)<<48)|CAST(o_orderkey AS BIGINT) AS dst,
        |         CAST(1.0 AS DOUBLE) AS w FROM orders
        |  UNION ALL
        |  SELECT (CAST(2 AS BIGINT)<<48)|CAST(l_orderkey AS BIGINT),
        |         (CAST(3 AS BIGINT)<<48)|CAST(l_partkey AS BIGINT),
        |         CAST(l_quantity AS DOUBLE) FROM lineitem
        |),
        |walk(id, dist, len) AS (
        |  SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE), 0
        |  UNION ALL
        |  SELECT e.dst, w.dist + e.w, w.len + 1
        |  FROM walk w JOIN we e ON e.src = w.id WHERE w.len < 3
        |),
        |lvl AS (SELECT id, MIN(dist) AS dist FROM walk GROUP BY id),
        |far AS (SELECT id, dist FROM lvl
        |        WHERE id <> (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT)
        |        ORDER BY dist DESC, id LIMIT 1),
        |par AS (
        |  SELECT e.dst AS id, MIN(e.src) AS parent
        |  FROM we e JOIN lvl u ON u.id = e.src JOIN lvl v ON v.id = e.dst
        |  WHERE v.dist = u.dist + e.w
        |  GROUP BY e.dst
        |),
        |pwalk(id, k) AS (
        |  SELECT id, 0 FROM far
        |  UNION ALL
        |  SELECT par.parent, w.k + 1 FROM pwalk w JOIN par ON par.id = w.id
        |),
        |path AS (
        |  SELECT string_agg(CAST(id AS VARCHAR), '-' ORDER BY k DESC) AS path_str
        |  FROM pwalk
        |)
        |SELECT (CAST(1 AS BIGINT)<<48)|CAST(1 AS BIGINT) AS start_id,
        |  f.id AS end_id, p.path_str
        |FROM far f, path p""".stripMargin,

    "cy12_unwind" ->
      """SELECT CAST(n_nationkey * m AS BIGINT) AS v, COUNT(*) AS c
        |FROM nation CROSS JOIN (VALUES (1), (2), (3)) AS t(m)
        |GROUP BY 1 ORDER BY v""".stripMargin,
    "cy14_varlen_props" ->
      // CONTAINS edges with l_quantity = 5 run Order→Part only, so every
      // qualifying path has exactly 1 hop (Part has no CONTAINS out-edges)
      """SELECT CAST(1 AS BIGINT) AS hops, COUNT(*) AS n_paths
        |FROM lineitem WHERE l_quantity = 5
        |ORDER BY hops""".stripMargin,
    "cy13_params" ->
      """SELECT n_name AS nation, COUNT(*) AS n_rich
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE c_acctbal > 5000.0
        |GROUP BY n_name ORDER BY nation""".stripMargin)
}
