package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Barrier, Tables}
import graft.operators.{Graph, Winnow}

/** Round-8 tranche X: the pair-free dedup grouping — connected
  * components straight off the bipartite doc–fingerprint membership
  * ([[Graph.bipartiteComponents]]), never materializing the B² pair
  * rows a bucket of B documents costs the pair-based pipeline. The
  * oracle proves component identity against the PAIR formulation
  * (recursive-CTE transitive closure over the q270 winnow pairs).
  */
object Extended24 {

  /** Winnow dedup groups, pair-free: the q270 fingerprint index
    * (5-gram, w = 4, df cap 2..20) feeds [[Graph.bipartiteComponents]]
    * directly as (doc, fp) memberships — identical components to
    * CC-over-shared-fp-pairs, at membership (linear) instead of pair
    * (quadratic-per-bucket) shuffle volume. Output mirrors q272's
    * shape: every document, its component min-id, the group size.
    */
  val q284_bipartite_dedup: Q = Q(
    "q284_bipartite_dedup",
    s"""WITH RECURSIVE ${OracleSql.winnowPairCtes},
      |sym AS (SELECT a AS u, b AS v FROM pairs
      |  UNION ALL SELECT b, a FROM pairs),
      |reach(id, lab) AS (
      |  SELECT DISTINCT u, u FROM sym
      |  UNION
      |  SELECT s.v, r.lab FROM reach r JOIN sym s ON r.id = s.u),
      |cc AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
      |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members
      |  FROM cc GROUP BY 1)
      |SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS comp,
      |  COALESCE(sz.n_members, 1) AS n_members
      |FROM documents d
      |LEFT JOIN cc ON d.doc_id = cc.id
      |LEFT JOIN sz ON COALESCE(cc.comp, d.doc_id) = sz.comp
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.loadParallel(spark, dir, "documents")
    val byFp = Winnow.fingerprints(docs, "doc_id", "text", k = 5, w = 4)
      .select($"doc".as("id"), $"fp".as("key")).distinct()
      .transform(Barrier(_)) // df cap + membership both read it
    val keep = byFp.groupBy($"key").agg(count(lit(1)).as("_nd"))
      .filter($"_nd".between(2, 20)).select($"key")
    val cc = Graph.bipartiteComponents(byFp.join(keep, Seq("key")))
      .transform(Barrier(_)) // membership + sizes both read it
    // docs sharing a kept fp got a component; the rest are singletons
    val sizes = cc.groupBy($"comp").agg(count(lit(1)).as("n_members"))
    docs.select($"doc_id")
      .join(broadcast(cc.withColumnRenamed("id", "doc_id")),
        Seq("doc_id"), "left")
      .withColumn("comp", coalesce($"comp", $"doc_id"))
      .join(broadcast(sizes), Seq("comp"), "left")
      .withColumn("n_members", coalesce($"n_members", lit(1L)))
      .select($"doc_id", $"comp", $"n_members")
      .orderBy($"doc_id")
  }

  val all: Seq[Q] = Seq(q284_bipartite_dedup)
}
