package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** JOB-style join-order-stress suite (reference benchmarks/src/imdb/ runs
  * the Join Order Benchmark; query texts under
  * /root/reference/benchmarks/queries/imdb/). JOB's whole point is that a
  * bad join ORDER — not a bad operator — destroys these queries: each one
  * is a 4–8-relation equi-join web whose dims carry highly selective
  * predicates (equality on a tiny lookup, LIKE/NOT-LIKE stacks, date
  * ranges) and whose output is a handful of MIN() columns, so essentially
  * ALL the cost is in the join pyramid. The families are re-expressed on
  * the TPC-H-ish schema with the same GEOMETRY: `orders` plays the `title`
  * hub, `lineitem` aliases play the bridge facts (movie_companies /
  * movie_keyword / cast_info — JOB joins several movie-keyed facts through
  * one hub, which maps to multiple orderkey-keyed lineitem roles joined
  * with the same transitive-closure predicates JOB spells out), and
  * part/supplier/customer/nation/region play the filtered dims.
  *
  * Each query is ONE ANSI-SQL text executed verbatim by BOTH Spark and the
  * DuckDB oracle (the Tpch.scala convention — zero dialect drift). The
  * Spark side is deliberately plain `spark.sql` with no hints: the point
  * at 100 TB is that Catalyst + AQE must get the order right from the
  * DECLARATIVE form — selective dims collapse to broadcast builds at
  * runtime (AQE converts the post-filter sides), the fact is never
  * broadcast, and the transitive predicates give the optimizer the
  * freedom to pick which bridge joins first. PlanAuditSpec pins exactly
  * that: every job_* final plan has broadcast builds for the filtered
  * dims, no cartesian/nested-loop, and the lineitem scans stay on probe
  * sides.
  */
object Job {

  /** Run the same SQL text on Spark (as the query) and DuckDB (as oracle). */
  private def viaSql(q: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { Tables.registerViews(spark, dir); spark.sql(q) }

  /** imdb/1a.sql family: two selective dims (company_type kind, info_type
    * info → p_type + n_name) each gating a bridge fact (movie_companies,
    * movie_info_idx → lineitem l1/l2), both bridges joined through the hub
    * AND to each other (the transitive closure JOB always writes out), a
    * NOT LIKE + OR-of-LIKEs stack on the dim, MIN outputs. */
  val job1aSql: String =
    """SELECT min(o.o_orderdate) AS first_promo_order,
      |       min(o.o_totalprice) AS min_order_price,
      |       min(p.p_name) AS promo_part_name
      |FROM part p, nation n, supplier s, lineitem l1, lineitem l2, orders o
      |WHERE p.p_type = 'PROMO'
      |  AND p.p_name NOT LIKE '%anvil%'
      |  AND (p.p_name LIKE '%red%' OR p.p_name LIKE '%small%')
      |  AND n.n_name = 'NATION_7'
      |  AND p.p_partkey = l1.l_partkey
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND s.s_suppkey = l2.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/6a.sql family: one tiny equality dim (keyword = 'marvel-…' →
    * p_brand), one mid-size dim under a multi-wildcard LIKE (name LIKE
    * '%Downey%Robert%' → c_name), a range predicate on the hub
    * (production_year > 2010 → o_orderdate), star join. */
  val job6aSql: String =
    """SELECT min(p.p_name) AS brand_part,
      |       min(c.c_name) AS buyer_name,
      |       min(o.o_orderdate) AS late_order
      |FROM part p, customer c, orders o, lineitem l
      |WHERE p.p_brand = 'Brand#13'
      |  AND c.c_name LIKE '%00%7%'
      |  AND o.o_orderdate > TIMESTAMP '1999-06-30 00:00:00'
      |  AND p.p_partkey = l.l_partkey
      |  AND o.o_orderkey = l.l_orderkey
      |  AND c.c_custkey = o.o_custkey""".stripMargin

  /** imdb/10a.sql family: predicates on the BRIDGE fact itself (ci.note
    * LIKE '%(voice)%' … → l_returnflag/l_linestatus), a country filter
    * reached through a two-hop dim chain (company_name country_code →
    * supplier→nation→region), a hub range — the family where filtering
    * the fact FIRST (pushdown) decides the plan. */
  val job10aSql: String =
    """SELECT min(s.s_name) AS returned_supplier,
      |       min(o.o_totalprice) AS returned_order_price
      |FROM supplier s, nation n, region r, lineitem l, orders o, customer c
      |WHERE l.l_returnflag = 'R' AND l.l_linestatus = 'F'
      |  AND r.r_name = 'AMERICA'
      |  AND c.c_mktsegment = 'AUTOMOBILE'
      |  AND o.o_orderdate > TIMESTAMP '1999-01-01 00:00:00'
      |  AND o.o_orderkey = l.l_orderkey
      |  AND c.c_custkey = o.o_custkey
      |  AND s.s_suppkey = l.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND n.n_regionkey = r.r_regionkey""".stripMargin

  /** imdb/11a.sql family: a NEGATED dim equality (country_code != '[pl]')
    * + OR-of-LIKEs on another dim + NOT LIKE on a third + BETWEEN on the
    * hub — the low-selectivity-mixture family where the optimizer must
    * NOT broadcast-order by the weak negation but by the strong
    * priority/date filters. */
  val job11aSql: String =
    """SELECT min(n.n_name) AS from_nation,
      |       min(p.p_name) AS sequel_part,
      |       min(o.o_orderdate) AS window_start
      |FROM region r, nation n, customer c, orders o, lineitem l, part p
      |WHERE r.r_name <> 'ASIA'
      |  AND (c.c_name LIKE '%111%' OR c.c_name LIKE '%222%')
      |  AND p.p_name NOT LIKE '%gizmo%'
      |  AND o.o_orderpriority = '1-URGENT'
      |  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                        AND TIMESTAMP '1997-12-31 00:00:00'
      |  AND r.r_regionkey = n.n_regionkey
      |  AND n.n_nationkey = c.c_nationkey
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |  AND l.l_partkey = p.p_partkey""".stripMargin

  /** imdb/16b.sql family: the LONG chain — eight relations, two bridge
    * facts, dims at both ends (region→nation→supplier on one side,
    * part on the other), customer joined off the hub; only two predicates
    * are selective, so join ORDER is everything. */
  val job16bSql: String =
    """SELECT min(s.s_name) AS chain_supplier,
      |       min(c.c_name) AS chain_customer,
      |       min(o.o_totalprice) AS chain_min_price
      |FROM region r, nation n, supplier s, customer c, orders o,
      |     lineitem l1, lineitem l2, part p
      |WHERE r.r_name = 'EUROPE'
      |  AND p.p_type = 'STANDARD'
      |  AND r.r_regionkey = n.n_regionkey
      |  AND n.n_nationkey = s.s_nationkey
      |  AND s.s_suppkey = l1.l_suppkey
      |  AND l1.l_orderkey = o.o_orderkey
      |  AND o.o_custkey = c.c_custkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l2.l_partkey = p.p_partkey
      |  AND l1.l_orderkey = l2.l_orderkey""".stripMargin

  /** imdb/17a.sql family: a PREFIX LIKE on a large dim (n.name LIKE 'B%'
    * → c_name prefix) + two selective equality dims, and the full
    * transitive triangle between the two bridges and the hub (JOB 17a
    * writes all three pairwise movie_id equalities — kept verbatim so the
    * optimizer sees the redundant edge). */
  val job17aSql: String =
    """SELECT min(c.c_name) AS prefix_customer,
      |       min(s.s_name) AS brand_supplier
      |FROM customer c, nation n, part p, supplier s, orders o,
      |     lineitem l1, lineitem l2
      |WHERE n.n_name = 'NATION_3'
      |  AND p.p_brand = 'Brand#21'
      |  AND c.c_name LIKE 'Customer#0000001%'
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_partkey = p.p_partkey
      |  AND l2.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/13a.sql family: the DIM-HEAVY star — nine relations of which
    * FIVE are small dims under equality predicates (country_code, ct.kind,
    * two info_types, kind_type → two regions + priority + container-ish
    * p_type + mktsegment here), reached through two separate dim CHAINS
    * that meet at the fact (customer side region≠supplier side region —
    * the q7-dual-chain geometry with JOB's all-equality dim mixture). The
    * planner win is collapsing all five dims to broadcast builds and
    * never shuffling the fact more than once. */
  val job13aSql: String =
    """SELECT min(o.o_totalprice) AS cross_region_price,
      |       min(p.p_name) AS cross_region_part,
      |       min(s.s_name) AS asian_supplier
      |FROM region r1, region r2, nation n1, nation n2, customer c,
      |     supplier s, orders o, lineitem l, part p
      |WHERE r1.r_name = 'EUROPE'
      |  AND r2.r_name = 'ASIA'
      |  AND c.c_mktsegment = 'MACHINERY'
      |  AND o.o_orderpriority = '2-HIGH'
      |  AND p.p_type = 'MEDIUM'
      |  AND r1.r_regionkey = n1.n_regionkey
      |  AND n1.n_nationkey = c.c_nationkey
      |  AND r2.r_regionkey = n2.n_regionkey
      |  AND n2.n_nationkey = s.s_nationkey
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |  AND l.l_suppkey = s.s_suppkey
      |  AND l.l_partkey = p.p_partkey""".stripMargin

  /** imdb/25c.sql family: the IN-LIST mixture — predicates are
    * mid-selectivity IN lists on both the bridge fact (ci.note IN
    * (writer…) → l_returnflag + l_linestatus pairs) and two dims
    * (keyword IN (murder…), mi.info IN (Horror…) → p_brand + p_size
    * lists), plus one strong equality (n.gender → o_orderstatus). The
    * optimizer has to rank several same-shaped IN filters by actual
    * selectivity rather than syntax. */
  val job25cSql: String =
    """SELECT min(p.p_name) AS violent_part,
      |       min(s.s_name) AS writer_supplier,
      |       min(o.o_totalprice) AS min_budget
      |FROM lineitem l, part p, supplier s, nation n, orders o
      |WHERE l.l_returnflag IN ('R', 'A')
      |  AND l.l_linestatus = 'F'
      |  AND p.p_brand IN ('Brand#3', 'Brand#7', 'Brand#13', 'Brand#19',
      |                    'Brand#22', 'Brand#23', 'Brand#25')
      |  AND p.p_size IN (1, 5, 9, 14, 23, 36, 45)
      |  AND n.n_name IN ('NATION_2', 'NATION_11', 'NATION_17')
      |  AND o.o_orderstatus = 'F'
      |  AND l.l_partkey = p.p_partkey
      |  AND l.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND l.l_orderkey = o.o_orderkey""".stripMargin

  /** imdb/33a.sql family: the HUB SELF-JOIN — JOB 33a joins TWO complete
    * title trees (t1, t2 each with company + rating chains) through
    * movie_link. Mapped as two orders of the SAME customer (the link
    * relation = customer, the o1<o2 inequality = link asymmetry), each
    * hub carrying its own lineitem→part tree with different dim filters.
    * This is the one family where the planner must keep two symmetric
    * join pyramids separate until the link — collapsing them early (a
    * fact-fact join before either tree is reduced) is the classic JOB
    * planning failure. */
  val job33aSql: String =
    """SELECT min(o1.o_totalprice) AS first_price,
      |       min(o2.o_totalprice) AS second_price,
      |       min(p1.p_name) AS promo_part,
      |       min(p2.p_name) AS economy_part
      |FROM nation nl, customer c, orders o1, orders o2,
      |     lineitem l1, lineitem l2, part p1, part p2
      |WHERE nl.n_name = 'NATION_5'
      |  AND o1.o_orderpriority = '1-URGENT'
      |  AND o2.o_orderpriority = '2-HIGH'
      |  AND p1.p_type = 'PROMO'
      |  AND p2.p_type = 'ECONOMY'
      |  AND nl.n_nationkey = c.c_nationkey
      |  AND o1.o_custkey = c.c_custkey
      |  AND o2.o_custkey = c.c_custkey
      |  AND o1.o_orderkey < o2.o_orderkey
      |  AND o1.o_orderkey = l1.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND o2.o_orderkey = l2.l_orderkey
      |  AND l2.l_partkey = p2.p_partkey""".stripMargin

  /** imdb/4a.sql family: the RANGE mixture — one tiny equality dim
    * (it.info='rating' → n_name), one LIKE dim (keyword '%sequel%' →
    * p_name), a VALUE range on the bridge fact itself (mi_idx.info > '5.0'
    * → l_quantity > 30) and a range on the hub (production_year > 2005 →
    * o_orderdate). Four different predicate classes in one star — the
    * family that punishes a planner ranking them by class instead of
    * selectivity. */
  val job4aSql: String =
    """SELECT min(o.o_totalprice) AS rated_price,
      |       min(p.p_name) AS sequel_part
      |FROM nation n, supplier s, part p, lineitem l, orders o
      |WHERE n.n_name = 'NATION_9'
      |  AND p.p_name LIKE '%red%'
      |  AND l.l_quantity > 30
      |  AND o.o_orderdate > TIMESTAMP '1997-01-01 00:00:00'
      |  AND s.s_nationkey = n.n_nationkey
      |  AND l.l_suppkey = s.s_suppkey
      |  AND l.l_partkey = p.p_partkey
      |  AND o.o_orderkey = l.l_orderkey""".stripMargin

  /** imdb/8a.sql family: LIKE + NOT LIKE stacks on BOTH a dim and a large
    * dim (mc.note like/not-like, n1.name like/not-like → part and customer
    * here), equality pairs on a bridge (ci.note → l_returnflag/linestatus),
    * a tiny equality dim, seven relations with two bridge roles — the
    * widest predicate mixture in the suite's first half. */
  val job8aSql: String =
    """SELECT min(c.c_name) AS pseudonym_customer,
      |       min(o.o_totalprice) AS dubbed_price
      |FROM customer c, nation n, orders o, lineitem l1, lineitem l2,
      |     supplier s, part p
      |WHERE l1.l_returnflag = 'N' AND l1.l_linestatus = 'O'
      |  AND p.p_name LIKE '%blue%' AND p.p_name NOT LIKE '%anvil%'
      |  AND c.c_name LIKE '%1%' AND c.c_name NOT LIKE '%9%'
      |  AND n.n_name = 'NATION_12'
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l2.l_partkey = p.p_partkey
      |  AND l2.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/20a.sql family: the SAME dim table TWICE under different
    * predicates (comp_cast_type cct1='cast' / cct2 LIKE '%complete%' →
    * nation n1 equality gating the customer chain, nation n2 prefix-LIKE
    * gating the supplier chain) + a keyword IN list + an OR-of-LIKEs with
    * a NOT LIKE on the part name + a hub range. The alias-disambiguation
    * stress: the planner must treat the two nation scans as independent
    * filters with independent selectivities. */
  val job20aSql: String =
    """SELECT min(o.o_totalprice) AS complete_price,
      |       min(p.p_name) AS hero_part
      |FROM nation n1, nation n2, customer c, supplier s, orders o,
      |     lineitem l, part p
      |WHERE n1.n_name = 'NATION_3'
      |  AND n2.n_name LIKE 'NATION_1%'
      |  AND p.p_brand IN ('Brand#2', 'Brand#4', 'Brand#8', 'Brand#16')
      |  AND (p.p_name LIKE '%blue%' OR p.p_name LIKE '%red%')
      |  AND p.p_name NOT LIKE '%gizmo%'
      |  AND o.o_orderdate > TIMESTAMP '1995-01-01 00:00:00'
      |  AND n1.n_nationkey = c.c_nationkey
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |  AND l.l_partkey = p.p_partkey
      |  AND l.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n2.n_nationkey""".stripMargin

  /** imdb/15a.sql family: FOUR bridge facts on one hub (aka_title +
    * movie_info + movie_keyword + movie_companies → four lineitem roles)
    * with the FULL pairwise transitive closure written out — six redundant
    * orderkey equalities beyond the four hub edges. The planner stress is
    * redundant-constraint handling: the closure must not confuse join-order
    * enumeration or produce duplicate join conditions, and the four
    * same-table fact roles must each keep their own pushed predicate. */
  val job15aSql: String =
    """SELECT min(o.o_totalprice) AS internet_price,
      |       min(p1.p_name) AS aka_part
      |FROM part p1, part p2, supplier s, nation n, orders o,
      |     lineitem l1, lineitem l2, lineitem l3, lineitem l4
      |WHERE n.n_name = 'NATION_7'
      |  AND p1.p_type = 'SMALL'
      |  AND p2.p_brand = 'Brand#5'
      |  AND l3.l_returnflag = 'A'
      |  AND l4.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |  AND o.o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l2.l_partkey = p2.p_partkey
      |  AND l3.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/2a.sql family: the MINIMAL star — five relations, ONE selective
    * tiny-dim equality (keyword='character-name-in-title') plus one
    * mid-dim equality (country_code='[de]'), bridge + hub with the
    * closure edge. The suite's baseline anchor: nothing to rank, the
    * planner just must not do anything silly with the unfiltered hub. */
  val job2aSql: String =
    """SELECT min(o.o_orderdate) AS keyword_order
      |FROM nation n, customer c, orders o, lineitem l, part p
      |WHERE n.n_name = 'NATION_4'
      |  AND p.p_brand = 'Brand#9'
      |  AND n.n_nationkey = c.c_nationkey
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |  AND l.l_partkey = p.p_partkey""".stripMargin

  /** imdb/7a.sql family: the DISJUNCTIVE-MIXED predicate — JOB 7a's
    * `(n.gender='m' OR (n.gender='f' AND n.name LIKE 'B%'))` is an
    * OR-of-ANDs ACROSS columns (not the OR-of-LIKEs on one column the
    * 11a/20a families have): the optimizer can't turn it into an IN list
    * or push either branch alone — selectivity must be estimated for the
    * union. Plus a BETWEEN on the dim's name (name_pcode_cf BETWEEN) and
    * ranges at both ends of a region→nation→customer→orders→lineitem→
    * supplier chain. */
  val job7aSql: String =
    """SELECT min(c.c_name) AS of_customer,
      |       min(o.o_orderdate) AS biography_order
      |FROM region r, nation n, customer c, orders o, lineitem l, supplier s
      |WHERE c.c_name BETWEEN 'Customer#000000100' AND 'Customer#000000999'
      |  AND (c.c_mktsegment = 'BUILDING'
      |       OR (c.c_mktsegment = 'MACHINERY' AND c.c_name LIKE '%5%'))
      |  AND r.r_name = 'EUROPE'
      |  AND s.s_acctbal > 1000
      |  AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
      |                        AND TIMESTAMP '1997-12-31 00:00:00'
      |  AND r.r_regionkey = n.n_regionkey
      |  AND n.n_nationkey = c.c_nationkey
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |  AND l.l_suppkey = s.s_suppkey""".stripMargin

  /** imdb/9a.sql family: the TWO-AXIS bridge — cast_info joins the movie
    * axis (t, mc) on movie_id AND the person axis (n, an) on person_id,
    * with the person-side closure written out. Here lineitem l1 carries
    * the hub/part axis while l2 attaches ONLY through the supplier axis
    * (l1.l_suppkey = l2.l_suppkey — JOB's an.person_id = ci.person_id),
    * the one join in the suite keyed on neither fact's hub. A
    * supplier-axis fact-fact join has quadratic per-supplier fan-out, so
    * the planner must reduce l2 by its shipdate filter BEFORE the axis
    * join — exactly 9a's aka_name trap. */
  val job9aSql: String =
    """SELECT min(s.s_name) AS axis_supplier,
      |       min(p.p_name) AS voiced_part,
      |       min(o.o_totalprice) AS min_price
      |FROM supplier s, nation n, lineitem l1, lineitem l2, orders o,
      |     part p, customer c
      |WHERE l1.l_returnflag = 'N' AND l1.l_linestatus = 'O'
      |  AND n.n_name IN ('NATION_1', 'NATION_4', 'NATION_9')
      |  AND p.p_name LIKE '%red%'
      |  AND c.c_mktsegment = 'AUTOMOBILE'
      |  AND l2.l_shipdate > TIMESTAMP '2001-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND l1.l_partkey = p.p_partkey
      |  AND o.o_custkey = c.c_custkey
      |  AND l1.l_suppkey = s.s_suppkey
      |  AND l2.l_suppkey = s.s_suppkey
      |  AND l1.l_suppkey = l2.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/14a.sql family: TYPED same-table facts — movie_info and
    * movie_info_idx are the same shape keyed by the same hub, but each is
    * gated by its OWN type dim (it1='countries' with an IN list on the
    * value, it2='rating' with a VALUE RANGE on the fact itself). Two
    * lineitem roles each with a private part dim — one under an IN list,
    * one under equality — plus the l2-side value range and a hub range:
    * per-role predicates must stay on their role (the job_15a audit
    * class) AND rank correctly across classes. */
  val job14aSql: String =
    """SELECT min(o.o_totalprice) AS rating_price,
      |       min(p1.p_name) AS nordic_part
      |FROM part p1, part p2, lineitem l1, lineitem l2, orders o,
      |     nation n, supplier s
      |WHERE p1.p_type IN ('STANDARD', 'SMALL', 'MEDIUM')
      |  AND p2.p_brand = 'Brand#21'
      |  AND l2.l_quantity < 25
      |  AND o.o_orderdate > TIMESTAMP '1997-06-01 00:00:00'
      |  AND n.n_name = 'NATION_14'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l2.l_partkey = p2.p_partkey
      |  AND l1.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/22a.sql family: the WIDEST flat mixture — eleven relations in
    * the original, every predicate class at once: a negated dim equality,
    * LIKE + NOT LIKE on a mid dim, IN lists on a dim and the fact, a
    * value range on the second fact, a kind-IN on the hub's status, a hub
    * date range, and the full three-way closure between both facts and
    * the hub. The ranking problem 11a poses, at twice the width. */
  val job22aSql: String =
    """SELECT min(c.c_name) AS foreign_customer,
      |       min(p1.p_name) AS violent_part,
      |       min(o.o_totalprice) AS low_rating_price
      |FROM region r, nation n1, nation n2, customer c, supplier s,
      |     orders o, lineitem l1, lineitem l2, part p1, part p2
      |WHERE n1.n_name <> 'NATION_0'
      |  AND c.c_name LIKE '%1%' AND c.c_name NOT LIKE '%88%'
      |  AND p1.p_brand IN ('Brand#3', 'Brand#7', 'Brand#13', 'Brand#19')
      |  AND l1.l_returnflag IN ('A', 'R')
      |  AND p2.p_type IN ('PROMO', 'ECONOMY')
      |  AND l2.l_extendedprice < 2000
      |  AND o.o_orderstatus IN ('F', 'O')
      |  AND o.o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
      |  AND r.r_regionkey = n1.n_regionkey
      |  AND n1.n_nationkey = c.c_nationkey
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l2.l_partkey = p2.p_partkey
      |  AND l2.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n2.n_nationkey""".stripMargin

  /** imdb/29a.sql family: the SEVENTEEN-relation web — JOB's largest
    * geometry (aka_name, complete_cast, two cct dims, char_name,
    * cast_info, company_name, three info/keyword dims, five movie-keyed
    * facts with the full pairwise closure, name, person_info, role_type,
    * title). Mapped at full width: FIVE lineitem roles on one hub with
    * all 15 orderkey equalities (10 pairwise + 5 hub edges) written out,
    * each role carrying its own dim chain — two part dims (equality /
    * LIKE with an IS NOT NULL + OR-of-LIKEs guard, 29a's mi.info
    * pattern), two supplier→nation chains (one reaching region), the
    * customer→nation→region chain off the hub, per-role fact predicates
    * (returnflag IN, quantity range, shipdate range) and a hub BETWEEN.
    * Seventeen relations, every join equi, no hints: the stress is pure
    * enumeration scale — AQE must still find broadcast builds for every
    * filtered dim and keep all five fact roles on probe sides. FROM
    * follows the round-12 leg-interleaved order (see job_19a): each fact
    * role joins its gating dim chain before the next role attaches, so
    * the per-order closure peaks at ~2 rows instead of ~28. */
  val job29aSql: String =
    """SELECT min(p1.p_name) AS voiced_part,
      |       min(s1.s_name) AS voicing_supplier,
      |       min(o.o_totalprice) AS voiced_price
      |FROM orders o, customer c, nation n3, region r3, lineitem l5,
      |     lineitem l1, part p1, lineitem l2, part p2, lineitem l3,
      |     supplier s1, nation n1, region r1, lineitem l4, supplier s2,
      |     nation n2, region r2
      |WHERE p1.p_type = 'PROMO'
      |  AND p2.p_name IS NOT NULL
      |  AND (p2.p_name LIKE '%red%' OR p2.p_name LIKE '%blue%')
      |  AND l3.l_returnflag IN ('N', 'A')
      |  AND l4.l_quantity > 10
      |  AND l5.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |  AND r1.r_name = 'EUROPE'
      |  AND r2.r_name = 'ASIA'
      |  AND c.c_mktsegment = 'HOUSEHOLD'
      |  AND o.o_orderdate BETWEEN TIMESTAMP '1995-06-01 00:00:00'
      |                        AND TIMESTAMP '2000-12-31 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND o.o_orderkey = l5.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l5.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l5.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l5.l_orderkey
      |  AND l4.l_orderkey = l5.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l2.l_partkey = p2.p_partkey
      |  AND l3.l_suppkey = s1.s_suppkey
      |  AND s1.s_nationkey = n1.n_nationkey
      |  AND n1.n_regionkey = r1.r_regionkey
      |  AND l4.l_suppkey = s2.s_suppkey
      |  AND s2.s_nationkey = n2.n_nationkey
      |  AND n2.n_regionkey = r2.r_regionkey
      |  AND o.o_custkey = c.c_custkey
      |  AND c.c_nationkey = n3.n_nationkey
      |  AND n3.n_regionkey = r3.r_regionkey""".stripMargin

  /** imdb/32a.sql family: the LINK geometry — movie_link attaches a
    * SECOND hub through a different key column (ml.movie_id = t1.id,
    * ml.linked_movie_id = t2.id), so two title trees meet through a
    * shared mid-level key rather than a shared dim row (job_33a's
    * customer link). Mapped as two order trees linked by a SHARED PART:
    * l1.l_partkey = l2.l_partkey with the keyword dim (p_brand equality)
    * gating only the first tree — asymmetric trees, and the link key is
    * neither hub's key. The distinct-trees guard (32a's t1 ≠ t2, implicit
    * in movie_link's two columns) is spelled on the LINEITEM pair
    * (l1.l_orderkey <> l2.l_orderkey — identical semantics, each side
    * equals its hub's key): a lesson found building this family — Spark's
    * ReorderJoin treats a LONE non-equi edge (o1 <> o2) as a joinable
    * connection and plans a fact-sized BroadcastNestedLoopJoin for it,
    * the exact degeneration the suite audit forbids; anchoring the guard
    * on a pair that ALSO shares an equi edge keeps it a post-join
    * filter. */
  val job32aSql: String =
    """SELECT min(p.p_name) AS link_part,
      |       min(o1.o_orderdate) AS first_order,
      |       min(o2.o_orderdate) AS linked_order
      |FROM part p, orders o1, orders o2, lineitem l1, lineitem l2,
      |     customer c
      |WHERE p.p_brand = 'Brand#17'
      |  AND o1.o_orderpriority = '1-URGENT'
      |  AND c.c_mktsegment = 'FURNITURE'
      |  AND o1.o_orderkey = l1.l_orderkey
      |  AND l1.l_partkey = p.p_partkey
      |  AND l2.l_partkey = p.p_partkey
      |  AND l1.l_partkey = l2.l_partkey
      |  AND o2.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey <> l2.l_orderkey
      |  AND o2.o_custkey = c.c_custkey""".stripMargin

  /** imdb/3a.sql family: the MINIMAL bridge-IN star — four relations
    * (keyword dim, two movie-keyed facts, hub), the defining trait being
    * an IN LIST ON THE BRIDGE FACT's own value column (mi.info IN
    * (8 countries)) rather than on a dim, next to a LIKE-gated dim on the
    * other bridge and a hub range. The optimizer must see the fact-side
    * IN as selective enough to order l2 before the unfiltered closure. */
  val job3aSql: String =
    """SELECT min(o.o_orderdate) AS sequel_order,
      |       min(o.o_totalprice) AS sequel_price
      |FROM part p, lineitem l1, lineitem l2, orders o
      |WHERE p.p_name LIKE '%red%'
      |  AND l2.l_quantity IN (1, 2, 3, 4, 5, 6, 7, 8)
      |  AND o.o_orderdate > TIMESTAMP '1997-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND p.p_partkey = l1.l_partkey""".stripMargin

  /** imdb/5a.sql family: a CONJUNCTIVE LIKE pair on the gating dim
    * (mc.note LIKE '%(theatrical)%' AND LIKE '%(France)%') plus an
    * UNFILTERED dim (info_type joins with no predicate at all — pure
    * existence through the web): the planner has to recognize the
    * predicate-free dim as a cheap FK hop, not a blowup. */
  val job5aSql: String =
    """SELECT min(o.o_orderdate) AS typical_order
      |FROM part p, supplier s, lineitem l1, lineitem l2, orders o
      |WHERE p.p_type = 'PROMO'
      |  AND p.p_name LIKE '%o%' AND p.p_name LIKE '%d%'
      |  AND l2.l_quantity IN (10, 20, 30, 40)
      |  AND o.o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND p.p_partkey = l1.l_partkey
      |  AND s.s_suppkey = l2.l_suppkey""".stripMargin

  /** imdb/12a.sql family: TWO typed info facts (genres IN-list via its
    * type dim, rating as a VALUE RANGE on the fact itself) PLUS the
    * company axis as a third bridge, under a hub BETWEEN — 14a's typed
    * same-table facts widened by one more role and a dim chain. */
  val job12aSql: String =
    """SELECT min(s.s_name) AS movie_company,
      |       min(l2.l_extendedprice) AS rating,
      |       min(o.o_totalprice) AS drama_price
      |FROM supplier s, nation n, part p1, lineitem l1, lineitem l2,
      |     lineitem l3, orders o
      |WHERE n.n_name = 'NATION_3'
      |  AND p1.p_type IN ('STANDARD', 'LARGE')
      |  AND l2.l_extendedprice > 50000
      |  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                        AND TIMESTAMP '1998-12-31 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l3.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/18a.sql family: the PERSON axis — the cast_info bridge carries
    * its own IN list ('(producer)', …) and gates a person dim under
    * equality + LIKE (n.gender = 'm' AND n.name LIKE '%Tim%'), while two
    * typed info facts (budget/votes) ride the hub with equality type
    * gates. No hub predicate beyond the closure: selectivity lives
    * entirely on the person chain. */
  val job18aSql: String =
    """SELECT min(l1.l_extendedprice) AS movie_budget,
      |       min(l2.l_extendedprice) AS movie_votes,
      |       min(o.o_totalprice) AS movie_price
      |FROM lineitem l1, lineitem l2, lineitem l3, supplier s, orders o
      |WHERE l3.l_returnflag IN ('A', 'R')
      |  AND l1.l_linestatus = 'F'
      |  AND l2.l_linestatus = 'O'
      |  AND s.s_name LIKE '%1%'
      |  AND s.s_acctbal > 0
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND s.s_suppkey = l3.l_suppkey""".stripMargin

  /** imdb/19a.sql family: the TWO-HUB web — movie axis AND person axis at
    * once: the cast bridge (l3) reaches a person dim, and a SECOND
    * person-keyed fact (aka_name → l4) attaches to that person by the
    * person key ONLY (no movie edge at all), so one leg of the join tree
    * hangs off the supplier axis. A disjunctive fact predicate, a person
    * country chain, a hub-dim equality + LIKE and a hub BETWEEN complete
    * 19a's predicate mixture.
    *
    * Round-12 cardinality-faithfulness fix (the 100× JOB stress exposed
    * it): IMDB's aka_name — the relation l4 stands in for — averages ~1
    * row per person, but an UNFILTERED lineitem leg carries ~600 rows per
    * supplier at every sf, multiplying the whole movie-axis intermediate
    * by 600 (147 s at sf0.1, ~4 h extrapolated at 100× — a constant-factor
    * artifact of the synthetic mapping, not of the family's geometry).
    * The l4 guard below (linenumber + quantity, ~2% of lines) restores the
    * alias-table cardinality profile while keeping the defining trait —
    * the fact attached by suppkey only — and job_9a's documented design
    * rule that the axis fact must carry its own reducing filter.
    *
    * Round-12 join-order fix (the 1000× stress exposed it): without CBO
    * statistics Spark's ReorderJoin builds the left-deep tree in FROM
    * order, so the ORIGINAL text (l1..l4 first, o/c last) materialized
    * the full three-leg per-order fan-out × the per-supplier l4
    * multiplicity (~17B intermediate rows at 1000×) BEFORE the reducing
    * hub landed — linear in data but ~10× a single box's shuffle disk at
    * the deployment decade. The FROM below encodes the order a
    * cost-based optimizer derives (the reference's own JOB lesson):
    * hub ⋈ customer first (date × segment+LIKE cuts orders ~25×), facts
    * onto the reduced hub, the suppkey-only alias leg LAST — same
    * tables, predicates and edges, ~40× smaller peak intermediate. */
  val job19aSql: String =
    """SELECT min(s.s_name) AS voicing_actress,
      |       min(o.o_totalprice) AS voiced_price
      |FROM orders o, customer c, lineitem l1, lineitem l2,
      |     lineitem l3, supplier s, nation n, lineitem l4
      |WHERE l3.l_returnflag IN ('N', 'A')
      |  AND l4.l_linenumber = 1 AND l4.l_quantity <= 4
      |  AND (l2.l_quantity > 45 OR l2.l_extendedprice > 90000)
      |  AND n.n_name LIKE 'NATION_1%'
      |  AND c.c_mktsegment = 'AUTOMOBILE'
      |  AND c.c_name LIKE '%2%'
      |  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                        AND TIMESTAMP '1999-12-31 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND s.s_suppkey = l3.l_suppkey
      |  AND l4.l_suppkey = s.s_suppkey
      |  AND l3.l_suppkey = l4.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND o.o_custkey = c.c_custkey""".stripMargin

  /** imdb/21a.sql family: the link bridge rejoins 32a's geometry but on
    * ONE hub (movie_link + link_type as a third bridge with its own
    * LIKE-gated dim), adding 21a's remaining classes: a negated dim
    * equality, an OR-of-LIKEs on the company dim, a NULL-class guard on
    * the bridge (mc.note IS NULL — spelled IS NOT NULL here since the
    * generated lineitem carries no NULLs, same predicate class), a
    * fact-value IN and a wide hub BETWEEN. */
  val job21aSql: String =
    """SELECT min(c.c_name) AS company_name,
      |       min(p2.p_name) AS link_type,
      |       min(o.o_orderdate) AS western_follow_up
      |FROM customer c, nation n, part p1, part p2,
      |     orders o, lineitem l1, lineitem l2, lineitem l3
      |WHERE n.n_name <> 'NATION_0'
      |  AND (c.c_name LIKE '%1%' OR c.c_name LIKE '%7%')
      |  AND p1.p_brand = 'Brand#11'
      |  AND p2.p_name LIKE '%o%'
      |  AND l2.l_linestatus IS NOT NULL
      |  AND l2.l_quantity IN (5, 10, 15, 20, 25, 30, 35, 40)
      |  AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
      |                        AND TIMESTAMP '2000-12-31 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l3.l_partkey = p2.p_partkey
      |  AND o.o_custkey = c.c_custkey
      |  AND c.c_nationkey = n.n_nationkey""".stripMargin

  /** imdb/23a.sql family: the HUB-ATTRIBUTE dim (kind_type keys off the
    * title's own kind_id — here the hub's own status under IN) plus the
    * complete_cast STATUS bridge (a fourth movie-keyed fact whose only
    * predicate is its status equality), a disjunctive date-window pair on
    * a fact, and a company chain — four bridges in full closure. */
  val job23aSql: String =
    """SELECT min(o.o_orderstatus) AS movie_kind,
      |       min(o.o_totalprice) AS complete_us_price
      |FROM part p1, supplier s, nation n, orders o,
      |     lineitem l1, lineitem l2, lineitem l3, lineitem l4
      |WHERE n.n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_24')
      |  AND p1.p_name LIKE '%n%'
      |  AND (l2.l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
      |       OR l2.l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
      |  AND l4.l_linestatus = 'F'
      |  AND o.o_orderstatus IN ('F')
      |  AND o.o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l3.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/24a.sql family: 19a's two-hub person web PLUS the keyword axis
    * (movie_keyword bridge with an IN-list keyword dim) — the widest
    * person-axis composition, ten relations, where both the person leg
    * (suppkey-only fact) and the keyword leg must stay on their own
    * axes through the full closure. Carries the same l4 alias-leg
    * cardinality guard as job_19a (see its Scaladoc: IMDB aka_name is ~1
    * row per person; an unfiltered suppkey-attached lineitem multiplied
    * the movie axis by ~600 — 711 s at sf0.1, ~20 h extrapolated at
    * 100×), and the same round-12 hub-first FROM order (Spark's
    * ReorderJoin is syntax-driven without CBO stats; the reduced hub
    * joins before the fact legs, the suppkey-only alias leg last). */
  val job24aSql: String =
    """SELECT min(s.s_name) AS voicing_actress_name,
      |       min(p3.p_name) AS voiced_action_part,
      |       min(o.o_totalprice) AS voiced_price
      |FROM orders o, customer c, lineitem l1, lineitem l2, lineitem l3,
      |     lineitem l5, part p3, supplier s, nation n, lineitem l4
      |WHERE l3.l_returnflag IN ('N', 'A')
      |  AND l4.l_linenumber = 1 AND l4.l_quantity <= 4
      |  AND p3.p_brand IN ('Brand#5', 'Brand#9', 'Brand#23')
      |  AND (l2.l_quantity > 40 OR l2.l_extendedprice > 80000)
      |  AND n.n_name LIKE 'NATION_2%'
      |  AND c.c_name LIKE '%1%'
      |  AND o.o_orderdate > TIMESTAMP '1997-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l5.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l5.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l5.l_orderkey
      |  AND l3.l_orderkey = l5.l_orderkey
      |  AND l5.l_partkey = p3.p_partkey
      |  AND s.s_suppkey = l3.l_suppkey
      |  AND l4.l_suppkey = s.s_suppkey
      |  AND l3.l_suppkey = l4.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND o.o_custkey = c.c_custkey""".stripMargin

  /** imdb/26a.sql family: ONE bridge carrying TWO type dims at once —
    * complete_cast joins comp_cast_type TWICE (subject_id AND status_id);
    * here the cc bridge's two fks (partkey → a type-equality part,
    * suppkey → a LIKE-gated nation chain) carry the double typing, next
    * to an OR-of-LIKEs char dim with its IS NOT NULL guard, a rating
    * value range, a keyword IN and a hub-attribute equality. */
  val job26aSql: String =
    """SELECT min(p2.p_name) AS character_name,
      |       min(l2.l_extendedprice) AS rating,
      |       min(o.o_totalprice) AS complete_hero_price
      |FROM part pa, supplier sb, nation nb, part p2, part p3,
      |     orders o, lineitem l1, lineitem l2, lineitem l3, lineitem l4
      |WHERE pa.p_type = 'PROMO'
      |  AND nb.n_name LIKE '%2%'
      |  AND p2.p_name IS NOT NULL
      |  AND (p2.p_name LIKE '%an%' OR p2.p_name LIKE '%ol%')
      |  AND p3.p_brand IN ('Brand#3', 'Brand#6', 'Brand#9', 'Brand#12',
      |                     'Brand#15', 'Brand#18', 'Brand#21', 'Brand#24')
      |  AND l2.l_extendedprice > 70000
      |  AND o.o_orderstatus = 'F'
      |  AND o.o_orderdate > TIMESTAMP '1996-06-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l1.l_partkey = p2.p_partkey
      |  AND l3.l_partkey = p3.p_partkey
      |  AND l4.l_partkey = pa.p_partkey
      |  AND l4.l_suppkey = sb.s_suppkey
      |  AND sb.s_nationkey = nb.n_nationkey""".stripMargin

  /** imdb/27a.sql family: 32a's LINK geometry (two hubs meeting through a
    * shared non-hub key) COMPOSED with the complete_cast axis and the
    * company chain: the first order tree carries the keyword dim and the
    * cc bridge (status-typed, an IN on its own flag), the second tree
    * carries the company dim — the distinct-trees guard rides the
    * equi-linked lineitem pair exactly as in job_32a.
    *
    * FROM follows the round-12 syntax-driven order (see job_19a), with
    * the link-specific twist: the SECOND tree's hub reduction
    * (o2 ⋈ FURNITURE customer, ~1/5) lands on l2 BEFORE the partkey
    * pairing, so the quadratic per-part line pairing — the family's
    * defining cost — runs over a reduced l2 leg and every downstream
    * exchange carries ~5× fewer rows (at 1000× the unreduced pairing's
    * cumulative shuffles exceeded a single box's disk). */
  val job27aSql: String =
    """SELECT min(c.c_name) AS producing_company,
      |       min(p.p_name) AS link_part,
      |       min(o1.o_orderdate) AS complete_western_sequel
      |FROM orders o2, customer c, lineitem l2, part p, lineitem l1,
      |     orders o1, lineitem l3, part p2, lineitem l4
      |WHERE p.p_brand = 'Brand#15'
      |  AND p2.p_type = 'STANDARD'
      |  AND c.c_mktsegment = 'FURNITURE'
      |  AND l4.l_returnflag IN ('A', 'R')
      |  AND l4.l_linestatus = 'F'
      |  AND o1.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
      |                         AND TIMESTAMP '2000-12-31 00:00:00'
      |  AND o1.o_orderkey = l1.l_orderkey
      |  AND l1.l_partkey = p.p_partkey
      |  AND l2.l_partkey = p.p_partkey
      |  AND l1.l_partkey = l2.l_partkey
      |  AND o2.o_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey <> l2.l_orderkey
      |  AND o1.o_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l3.l_partkey = p2.p_partkey
      |  AND o1.o_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND o2.o_custkey = c.c_custkey""".stripMargin

  /** imdb/28a.sql family: the SECOND-LARGEST web (fourteen relations) and
    * the NEGATION showcase — dim inequality (<>), NOT LIKE + LIKE
    * conjunction on a gating dim, a fact value UPPER bound, a hub status
    * IN and a customer-class inequality, over FIVE fact roles in full
    * pairwise closure: 29a's enumeration stress with predicates that
    * subtract instead of select. FROM follows the round-12
    * leg-interleaved order (see job_19a): hub ⋈ customer chain first,
    * then each fact role with its gating dim chain, most selective
    * chains (the nation-IN supplier leg) earliest. */
  val job28aSql: String =
    """SELECT min(s1.s_name) AS movie_company,
      |       min(l4.l_extendedprice) AS rating,
      |       min(o.o_totalprice) AS complete_euro_price
      |FROM orders o, customer c, nation n3, lineitem l5, supplier s2,
      |     nation n2, lineitem l1, part p1, lineitem l2, part p2,
      |     lineitem l4, lineitem l3, supplier s1, nation n1
      |WHERE n1.n_name <> 'NATION_9'
      |  AND p2.p_name NOT LIKE '%green%' AND p2.p_name LIKE '%o%'
      |  AND p1.p_brand IN ('Brand#2', 'Brand#8', 'Brand#14', 'Brand#20')
      |  AND l4.l_extendedprice < 85000
      |  AND o.o_orderstatus IN ('F', 'O')
      |  AND c.c_mktsegment <> 'HOUSEHOLD'
      |  AND n2.n_name IN ('NATION_4', 'NATION_6', 'NATION_10', 'NATION_12')
      |  AND o.o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND o.o_orderkey = l5.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l5.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l5.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l5.l_orderkey
      |  AND l4.l_orderkey = l5.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l2.l_partkey = p2.p_partkey
      |  AND l3.l_suppkey = s1.s_suppkey
      |  AND s1.s_nationkey = n1.n_nationkey
      |  AND l5.l_suppkey = s2.s_suppkey
      |  AND s2.s_nationkey = n2.n_nationkey
      |  AND o.o_custkey = c.c_custkey
      |  AND c.c_nationkey = n3.n_nationkey""".stripMargin

  /** imdb/30a.sql family: complete_cast AND the person axis AND typed
    * info facts in one web — the writer IN on the cast bridge, a person
    * gender equality, genre/votes typed roles, the keyword IN, and the cc
    * bridge double-gated like 26a (equality type part + status flag).
    * FROM follows the round-12 leg-interleaved order (see job_19a). */
  val job30aSql: String =
    """SELECT min(l1.l_extendedprice) AS movie_budget,
      |       min(l2.l_extendedprice) AS movie_votes,
      |       min(s.s_name) AS writer,
      |       min(o.o_totalprice) AS complete_violent_price
      |FROM orders o, lineitem l1, part p1, lineitem l5, part p3,
      |     lineitem l4, part p2, lineitem l2, lineitem l3, supplier s
      |WHERE l3.l_returnflag IN ('R', 'N')
      |  AND l1.l_linestatus = 'F'
      |  AND l2.l_linestatus = 'O'
      |  AND p1.p_type IN ('PROMO', 'ECONOMY')
      |  AND p2.p_brand IN ('Brand#4', 'Brand#10', 'Brand#16', 'Brand#22',
      |                     'Brand#7', 'Brand#19', 'Brand#25')
      |  AND p3.p_type = 'SMALL'
      |  AND l5.l_linestatus = 'F'
      |  AND s.s_acctbal > 0
      |  AND o.o_orderdate > TIMESTAMP '1997-01-01 00:00:00'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND o.o_orderkey = l5.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l5.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l5.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l5.l_orderkey
      |  AND l4.l_orderkey = l5.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l4.l_partkey = p2.p_partkey
      |  AND l5.l_partkey = p3.p_partkey
      |  AND l3.l_suppkey = s.s_suppkey""".stripMargin

  /** imdb/31a.sql family: NO hub predicate at all — every drop of
    * selectivity lives on the dims (a PREFIX LIKE on the company name,
    * writer IN on the cast bridge, genre/keyword IN lists), so the
    * optimizer must derive the join order purely from dim filters with
    * nothing to prune the hub scan: the pure join-ordering stress.
    *
    * Round-12: the FROM encodes exactly that derivation (Spark's
    * ReorderJoin is syntax-driven without CBO stats — see job_19a): each
    * fact leg joins its gating part dim BEFORE the next leg attaches, so
    * the per-order closure fan-out peaks at ~5 rows/order instead of
    * ~100 (all four unreduced legs first, dims last). The unpredicated
    * hub joins dead last — it reduces nothing, the family's trait. */
  val job31aSql: String =
    """SELECT min(l1.l_extendedprice) AS movie_budget,
      |       min(l2.l_extendedprice) AS movie_votes,
      |       min(s.s_name) AS writer,
      |       min(o.o_totalprice) AS violent_price
      |FROM part p1, lineitem l1, lineitem l4, part p2,
      |     lineitem l3, supplier s, nation n, lineitem l2, orders o
      |WHERE l3.l_returnflag IN ('A', 'R')
      |  AND n.n_name LIKE 'NATION_1%'
      |  AND p1.p_type IN ('PROMO', 'ECONOMY')
      |  AND p2.p_brand IN ('Brand#2', 'Brand#4', 'Brand#6', 'Brand#8')
      |  AND s.s_acctbal >= 0
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND o.o_orderkey = l4.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l4.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l4.l_orderkey
      |  AND l3.l_orderkey = l4.l_orderkey
      |  AND l1.l_partkey = p1.p_partkey
      |  AND l4.l_partkey = p2.p_partkey
      |  AND l3.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey""".stripMargin

  /** imdb/17f.sql variant — the ALL-WEAK-SELECTIVITY stress, the one
    * trait 17a's prefix-LIKE does not cover: the keyword equality hits the
    * corpus's most COMMON value, the LIKE on the largest dim is a weak
    * contains ('%B%' over 4.1M names), and the company dim is entirely
    * UNFILTERED — nothing prunes much, so the join order must come from
    * relation SIZES alone, not predicate selectivity. Mapped with a
    * common-value type equality, a weak contains-LIKE on supplier, and an
    * unfiltered customer dim over three fact roles. */
  val job17fSql: String =
    """SELECT min(s.s_name) AS member_supplier,
      |       min(o.o_totalprice) AS member_price
      |FROM supplier s, customer c, part p, orders o,
      |     lineitem l1, lineitem l2, lineitem l3
      |WHERE p.p_type = 'STANDARD'
      |  AND s.s_name LIKE '%1%'
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderkey = l2.l_orderkey
      |  AND o.o_orderkey = l3.l_orderkey
      |  AND l1.l_orderkey = l2.l_orderkey
      |  AND l1.l_orderkey = l3.l_orderkey
      |  AND l2.l_orderkey = l3.l_orderkey
      |  AND l1.l_suppkey = s.s_suppkey
      |  AND l2.l_partkey = p.p_partkey
      |  AND o.o_custkey = c.c_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "job_17f" -> viaSql(job17fSql),
    "job_2a" -> viaSql(job2aSql), "job_7a" -> viaSql(job7aSql),
    "job_9a" -> viaSql(job9aSql), "job_14a" -> viaSql(job14aSql),
    "job_22a" -> viaSql(job22aSql), "job_29a" -> viaSql(job29aSql),
    "job_32a" -> viaSql(job32aSql),
    "job_1a" -> viaSql(job1aSql), "job_6a" -> viaSql(job6aSql),
    "job_10a" -> viaSql(job10aSql), "job_11a" -> viaSql(job11aSql),
    "job_16b" -> viaSql(job16bSql), "job_17a" -> viaSql(job17aSql),
    "job_13a" -> viaSql(job13aSql), "job_25c" -> viaSql(job25cSql),
    "job_33a" -> viaSql(job33aSql), "job_4a" -> viaSql(job4aSql),
    "job_8a" -> viaSql(job8aSql), "job_20a" -> viaSql(job20aSql),
    "job_15a" -> viaSql(job15aSql),
    "job_3a" -> viaSql(job3aSql), "job_5a" -> viaSql(job5aSql),
    "job_12a" -> viaSql(job12aSql), "job_18a" -> viaSql(job18aSql),
    "job_19a" -> viaSql(job19aSql), "job_21a" -> viaSql(job21aSql),
    "job_23a" -> viaSql(job23aSql), "job_24a" -> viaSql(job24aSql),
    "job_26a" -> viaSql(job26aSql), "job_27a" -> viaSql(job27aSql),
    "job_28a" -> viaSql(job28aSql), "job_30a" -> viaSql(job30aSql),
    "job_31a" -> viaSql(job31aSql))

  /** PRE-round-12 FROM lists for the heavy-tail families — the ORIGINAL,
    * syntax-hostile relation orders the r12 hub-first rewrite replaced
    * (fact legs first, reducing hub last; git 922110c/5f49d52). Kept as
    * leg B's text in graft.Audit's `ab --original-from`: the
    * r12 fix hand-encodes the order a cost-based optimizer derives, but a
    * real user's query arrives in arbitrary FROM order — the engine-native
    * answer is `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` +
    * `spark.sql.cbo.enabled` + `spark.sql.cbo.joinReorder.enabled`, which
    * must recover the reduced-hub-first tree from STATISTICS alone when
    * handed these worst-case orders. Same tables/predicates/edges as the
    * shipped texts (the splice below touches only the FROM list), so
    * results stay oracle-identical. */
  val originalFrom: Map[String, String] = Map(
    "job_19a" -> ("lineitem l1, lineitem l2, lineitem l3, lineitem l4, " +
      "supplier s, nation n, customer c, orders o"),
    "job_24a" -> ("lineitem l1, lineitem l2, lineitem l3, lineitem l4, " +
      "lineitem l5, part p3, supplier s, nation n, customer c, orders o"),
    "job_27a" -> ("part p, part p2, orders o1, orders o2, customer c, " +
      "lineitem l1, lineitem l2, lineitem l3, lineitem l4"),
    "job_28a" -> ("orders o, lineitem l1, lineitem l2, lineitem l3, " +
      "lineitem l4, lineitem l5, part p1, part p2, supplier s1, " +
      "nation n1, supplier s2, nation n2, customer c, nation n3"),
    "job_29a" -> ("orders o, lineitem l1, lineitem l2, lineitem l3, " +
      "lineitem l4, lineitem l5, part p1, part p2, supplier s1, " +
      "nation n1, region r1, supplier s2, nation n2, region r2, " +
      "customer c, nation n3, region r3"),
    "job_30a" -> ("orders o, lineitem l1, lineitem l2, lineitem l3, " +
      "lineitem l4, lineitem l5, part p1, part p2, part p3, supplier s"),
    "job_31a" -> ("lineitem l1, lineitem l2, lineitem l3, lineitem l4, " +
      "part p1, part p2, supplier s, nation n, orders o"))

  /** `sql` with its FROM list swapped for `fromList` — the stats-mode
    * splice. Every JOB text has exactly one `FROM … WHERE` span and no
    * subqueries, so the regex is total here; outputs and predicates are
    * untouched, keeping the result oracle-identical by construction. */
  def withFromOrder(sql: String, fromList: String): String = {
    val spliced = "(?s)\\nFROM .*?\\nWHERE ".r
      .replaceFirstIn(sql, java.util.regex.Matcher.quoteReplacement(
        s"\nFROM $fromList\nWHERE "))
    require(spliced != sql || sql.contains(fromList),
      s"FROM splice failed on: ${sql.take(80)}")
    spliced
  }

  val oracle: Map[String, String] = Map(
    "job_17f" -> job17fSql,
    "job_2a" -> job2aSql, "job_7a" -> job7aSql, "job_9a" -> job9aSql,
    "job_14a" -> job14aSql, "job_22a" -> job22aSql,
    "job_29a" -> job29aSql, "job_32a" -> job32aSql,
    "job_1a" -> job1aSql, "job_6a" -> job6aSql, "job_10a" -> job10aSql,
    "job_11a" -> job11aSql, "job_16b" -> job16bSql, "job_17a" -> job17aSql,
    "job_13a" -> job13aSql, "job_25c" -> job25cSql, "job_33a" -> job33aSql,
    "job_4a" -> job4aSql, "job_8a" -> job8aSql, "job_20a" -> job20aSql,
    "job_15a" -> job15aSql,
    "job_3a" -> job3aSql, "job_5a" -> job5aSql, "job_12a" -> job12aSql,
    "job_18a" -> job18aSql, "job_19a" -> job19aSql, "job_21a" -> job21aSql,
    "job_23a" -> job23aSql, "job_24a" -> job24aSql, "job_26a" -> job26aSql,
    "job_27a" -> job27aSql, "job_28a" -> job28aSql, "job_30a" -> job30aSql,
    "job_31a" -> job31aSql)
}
