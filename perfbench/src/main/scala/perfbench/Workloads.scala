package perfbench

import scala.util.Random

import graft.lang.{IntV, StringV, Value}
import graft.operators.{GraphAlgos, GraphOps}
import graft.sources.GraphLoader

/** One operation of a workload, with the DuckDB SQL that computes its
  * expected result from the raw parquet tables. `key` identifies the
  * operation's input: two operations with the same key must return the
  * same rows. */
sealed trait Op { def name: String; def key: String; def oracle: String }

/** A MiniGQL program (without the schema header) run through
  * `Engine.runSourceOn` on the loaded graph. */
final case class Gql(name: String, body: String, params: Map[String, Value],
    oracle: String, key: String) extends Op

/** A library query of the engine's inventory, run on the loaded dataset. */
final case class Lib(name: String, oracle: String) extends Op { def key: String = name }

object Workloads {
  private val Lids = s"WITH lids AS (SELECT *, ${GraphLoader.lineIdSql} AS lid FROM lineitem)"
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def gql(name: String, body: String, params: Map[String, Value], oracle: String): Gql =
    Gql(name, body, params, oracle,
      s"$name|$body|" + params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(","))

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  // ---- read_mix ---------------------------------------------------------

  /** Read-only templates shaped after the engine's `gql_*` inventory.
    * Parameters come from small domains so that a stream repeats inputs,
    * and every value in a domain returns rows on the generated data. */
  private val templates: Vector[Random => Gql] = Vector(
    r => {
      val rn = pick(r, Regions)
      gql("match_2hop",
        """match (s:supplier) -[:snation]-> (n:nation) -[:nregion]-> (r:region)
          |where r.name = $rname
          |return s, n, r""".stripMargin,
        Map("rname" -> StringV(rn)),
        s"""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
           |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
           |       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
           |FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = '$rn'""".stripMargin)
    },
    r => {
      val nk = r.nextInt(5); val pr = pick(r, Priorities)
      gql("lineitem_2hop",
        """match (l:lineitem) -[:lorder]-> (o:orders) -[:ocust]-> (c:customer)
          |where c.nationkey = $nk and o.priority = $prio
          |return l, o, c""".stripMargin,
        Map("nk" -> IntV(nk), "prio" -> StringV(pr)),
        s"""$Lids
           |SELECT lid AS l, o_orderkey + 6000000000 AS o, c_custkey + 4000000000 AS c
           |FROM lids JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_nationkey = $nk AND o_orderpriority = '$pr'""".stripMargin)
    },
    r => {
      val rk = r.nextInt(5); val rf = pick(r, Seq("A", "N", "R"))
      gql("lineitem_3hop_agg",
        """match (l:lineitem) -[:lsupp]-> (s:supplier) -[:snation]-> (n:nation)
          |where n.regionkey = $rk and l.returnflag = $rf
          |return n, count(l)""".stripMargin,
        Map("rk" -> IntV(rk), "rf" -> StringV(rf)),
        s"""$Lids
           |SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n, count(*) AS count_l
           |FROM lids JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_regionkey = $rk AND l_returnflag = '$rf'
           |GROUP BY 1""".stripMargin)
    },
    r => {
      val hi = pick(r, Seq(10, 20, 30, 40)); val k = pick(r, Seq(5, 10))
      gql("order_limit",
        """match (p:part) where p.psize <= $hi
          |return p, p.psize order by p.psize desc, p limit $k""".stripMargin,
        Map("hi" -> IntV(hi), "k" -> IntV(k)),
        s"""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
           |       CAST(p_size AS BIGINT) AS p_psize
           |FROM part WHERE p_size <= $hi
           |ORDER BY p_size DESC, 1 LIMIT $k""".stripMargin)
    },
    r => {
      val seg = pick(r, Segments)
      gql("group_agg",
        """match (c:customer) -[:cnation]-> (n:nation)
          |where c.mktsegment = $seg
          |return n, count(c)""".stripMargin,
        Map("seg" -> StringV(seg)),
        s"""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n, count(*) AS count_c
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |WHERE c_mktsegment = '$seg'
           |GROUP BY 1""".stripMargin)
    },
    r => {
      val nk = r.nextInt(5); val sk = pick(r, Seq(0, 3, 7))
      gql("order_skip",
        """match (o:orders) -[:ocust]-> (c:customer)
          |where c.nationkey = $nk
          |return o, c order by o desc skip $s limit 5""".stripMargin,
        Map("nk" -> IntV(nk), "s" -> IntV(sk)),
        s"""SELECT o_orderkey + 6000000000 AS o, c_custkey + 4000000000 AS c
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE c_nationkey = $nk
           |ORDER BY o DESC LIMIT 5 OFFSET $sk""".stripMargin)
    },
    r => {
      val rk = r.nextInt(5); val hi = pick(r, Seq(2, 3))
      gql("varpath",
        s"""match (a:nation) -[:nnext*1..$hi]-> (b:nation)
           |where a.regionkey = $$rk
           |return a, b""".stripMargin,
        Map("rk" -> IntV(rk)),
        s"""WITH RECURSIVE e AS (
           |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
           |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
           |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
           |  FROM nation),
           |r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
           |      UNION ALL
           |      SELECT r.src, e.dst, r.d + 1
           |      FROM r JOIN e ON r.dst = e.src
           |      WHERE e.dst IS NOT NULL AND r.d < $hi)
           |SELECT DISTINCT src AS a, dst AS b FROM r
           |JOIN nation ON CAST(n_nationkey AS BIGINT) + 2000000000 = src
           |WHERE n_regionkey = $rk""".stripMargin)
    },
    r => {
      val rn = pick(r, Regions)
      gql("optional",
        """match (n:nation) -[:nregion]-> (r:region)
          |where r.name = $rname
          |optional match (n) -[:nnext]-> (m:nation)
          |return n, m""".stripMargin,
        Map("rname" -> StringV(rn)),
        s"""WITH e AS (
           |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
           |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
           |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
           |  FROM nation)
           |SELECT CAST(n.n_nationkey AS BIGINT) + 2000000000 AS n, e.dst AS m
           |FROM nation n JOIN region ON n.n_regionkey = r_regionkey
           |LEFT JOIN e ON e.src = CAST(n.n_nationkey AS BIGINT) + 2000000000
           |           AND e.dst IS NOT NULL
           |WHERE r_name = '$rn'""".stripMargin)
    },
    r => {
      val seg = pick(r, Segments)
      gql("not_exists",
        """match (c:customer {mktsegment: $seg})
          |where not exists (o:orders {urgent: true}) -[:ocust]-> (c)
          |return c, c.name""".stripMargin,
        Map("seg" -> StringV(seg)),
        s"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c, c_name AS c_name
           |FROM customer c
           |WHERE c_mktsegment = '$seg' AND NOT EXISTS (
           |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           |    AND o.o_orderpriority = '1-URGENT')""".stripMargin)
    },
    r => {
      val seg = pick(r, Segments)
      gql("exists",
        """match (c:customer {mktsegment: $seg})
          |where exists (o:orders {urgent: true}) -[:ocust]-> (c)
          |return c, c.name""".stripMargin,
        Map("seg" -> StringV(seg)),
        s"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c, c_name AS c_name
           |FROM customer c
           |WHERE c_mktsegment = '$seg' AND EXISTS (
           |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           |    AND o.o_orderpriority = '1-URGENT')""".stripMargin)
    },
    r => {
      val min = pick(r, Seq(4, 6, 8))
      gql("with_where",
        """match (c:customer) -[:cnation]-> (n:nation)
          |with n, count(c) as cnt where cnt.val >= $min
          |return n, cnt.val as cnt""".stripMargin,
        Map("min" -> IntV(min)),
        s"""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
           |       CAST(count(*) AS BIGINT) AS cnt
           |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           |GROUP BY n_nationkey HAVING count(*) >= $min""".stripMargin)
    },
    r => {
      val rk = r.nextInt(5); val nk = pick(r, Seq(4, 8, 12))
      gql("union",
        """match (s:supplier) -[:snation]-> (n:nation)
          |where n.regionkey = $rk
          |return s
          |union
          |match (s:supplier)
          |where s.nationkey < $nk
          |return s""".stripMargin,
        Map("rk" -> IntV(rk), "nk" -> IntV(nk)),
        s"""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s
           |FROM supplier JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_regionkey = $rk
           |UNION
           |SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s
           |FROM supplier WHERE s_nationkey < $nk""".stripMargin)
    },
    r => {
      val maxr = r.nextInt(5); val m = pick(r, Seq(2, 3, 4))
      gql("collect_unwind",
        """match (n:nation)
          |where n.regionkey <= $maxr
          |with n.regionkey as rk, collect(distinct n.nationkey mod $m) as ms
          |unwind ms as m
          |return rk, m""".stripMargin,
        Map("maxr" -> IntV(maxr), "m" -> IntV(m)),
        s"""SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS rk,
           |       CAST(n_nationkey % $m AS BIGINT) AS m
           |FROM nation WHERE n_regionkey <= $maxr""".stripMargin)
    },
  )

  /** The `pass`-th block of the seeded read-only stream: every template
    * once, with seeded parameters. The order is fixed: a seeded order
    * changed the whole stream's speed by 10-15% per seed, through the JIT
    * profiles it built, not through the work done. */
  def readMix(seed: Long, pass: Int): Vector[Op] = {
    val r = new Random(seed * 1000003L + pass)
    templates.map(_(r))
  }

  /** Set-up warm-up: a scan of every lineitem (filling the loader's cached
    * lineitem frame) and one short match. */
  val warmup: Vector[Op] = Vector(
    gql("warmup_lineitem",
      """match (l:lineitem) -[:lsupp]-> (s:supplier)
        |return s, count(l)""".stripMargin, Map.empty,
      s"""$Lids
         |SELECT CAST(l_suppkey AS BIGINT) + 3000000000 AS s, count(*) AS count_l
         |FROM lids GROUP BY 1""".stripMargin),
    templates(0)(new Random(0)))

  // ---- graph_analytics --------------------------------------------------

  private def inventoryOracle(name: String): String =
    (GraphOps.all ++ GraphAlgos.all).find(_.name == name).flatMap(_.oracle)
      .getOrElse(throw new IllegalStateException(s"no oracle for $name"))

  /** The loaded graph's directed edge set: the foreign-key edges plus the
    * derived same-region nation successor chain. */
  private val edgeSql: String =
    s"""SELECT c_custkey + 4000000000 AS src, c_nationkey + 2000000000 AS dst FROM customer
       |UNION ALL SELECT s_suppkey + 3000000000, s_nationkey + 2000000000 FROM supplier
       |UNION ALL SELECT n_nationkey + 2000000000, n_regionkey + 1000000000 FROM nation
       |UNION ALL SELECT o_orderkey + 6000000000, o_custkey + 4000000000 FROM orders
       |UNION ALL SELECT lid, l_orderkey + 6000000000 FROM lids
       |UNION ALL SELECT lid, l_partkey + 5000000000 FROM lids
       |UNION ALL SELECT lid, l_suppkey + 3000000000 FROM lids
       |UNION ALL SELECT src, dst FROM (
       |  SELECT n_nationkey + 2000000000 AS src,
       |         2000000000 + LEAD(n_nationkey) OVER (
       |           PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
       |  FROM nation) x WHERE dst IS NOT NULL""".stripMargin

  /** Undirected hop distances from `src`, unrolled far past the
    * generated graph's eccentricity (steps after the fixpoint are no-ops). */
  private def bfsOracle(src: Long): String = {
    val steps = (1 to 12).map { i =>
      s"""d$i AS MATERIALIZED (SELECT x.id, min(x.d) AS d FROM (
         |  SELECT id, d FROM d${i - 1}
         |  UNION ALL SELECT ue.dst AS id, d${i - 1}.d + 1
         |  FROM ue JOIN d${i - 1} ON ue.src = d${i - 1}.id) x GROUP BY x.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH lids AS MATERIALIZED (SELECT *, ${GraphLoader.lineIdSql} AS lid FROM lineitem),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |d0 AS MATERIALIZED (SELECT CAST($src AS BIGINT) AS id, 0::BIGINT AS d),
       |$steps
       |SELECT d AS dist, count(*) AS n FROM d12 GROUP BY d""".stripMargin
  }

  /** Each whole-graph procedure followed by its library twin; the seed
    * picks the bfs source among the region nodes. */
  def analytics(seed: Long): Vector[Op] = {
    val src = GraphLoader.RegionBase + new Random(seed).nextInt(5)
    Vector(
      gql("call_pagerank",
        """call pagerank() yield id, rank
          |return id, rank
          |order by rank desc, id
          |limit 100""".stripMargin, Map.empty, inventoryOracle("gql_call_pagerank")),
      Lib("g_pagerank", inventoryOracle("g_pagerank")),
      gql("call_cc",
        """call cc() yield id, comp
          |return comp, count(id) as n""".stripMargin, Map.empty,
        inventoryOracle("gql_call_cc")),
      Lib("g_connected_components", inventoryOracle("g_connected_components")),
      gql("call_bfs",
        """call bfs($src) yield id, dist
          |return dist, count(id) as n""".stripMargin, Map("src" -> IntV(src)),
        bfsOracle(src)),
      Lib("g_bfs", inventoryOracle("g_bfs")))
  }

  /** Library twin of each bridge procedure, for the call/library ratio. */
  val twins: Seq[(String, String)] = Seq(
    "call_pagerank" -> "g_pagerank", "call_cc" -> "g_connected_components",
    "call_bfs" -> "g_bfs")
}
