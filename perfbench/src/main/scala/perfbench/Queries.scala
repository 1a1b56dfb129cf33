package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{Bench, Q, SparkEntry}

/** The query workloads: catalog queries run one at a time, timed, digested
  * and split into build / plan / exec when traced.
  */
object Queries {
  /** curate_x4: the costliest query of each family (dedup, minhash, text)
    * among the heavy near-dup / text operators.
    */
  val Curate: Seq[String] = Seq("q_edit_dedup_groups", "q_f2_minhash_pairs",
    "q_f19c_ccnet_buckets")

  /** catalog_gen: one query of each family or module curate_x4 leaves
    * out: a relational join and scalar string functions over the star
    * schema, cosine top-k (Similarity) and product quantization (Pq) over
    * the embeddings, and the Html and Urls text operators over the
    * documents.
    */
  val Catalog: Seq[String] = Seq("q3_join_topk", "qd1_string", "q_f3_cosine_topk",
    "q_f23_pq_adc", "q_f58_html_extract", "q_f60b_domain_gate")

  def specsOf(names: Seq[String]): Seq[Q] = {
    val byName = SparkEntry.specs.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, throw new IllegalStateException(s"no query $n")))
  }

  /** Order-independent digest of a result: row count plus the xor and two
    * half-word sums of a 64-bit hash of every row (a multiset hash, so a
    * duplicated or dropped row changes it).
    */
  def digestOf(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = xxhash64(cols: _*)
    val r: Row = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(col("h").bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(col("h"), 32))).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).mkString(":")
  }

  final case class Outcome(name: String, wallS: Double, digest: String, error: String)

  /** One query, timed from `q.fn` to its digest: build, plan and execute. */
  def runOne(spark: SparkSession, q: Q, dir: String): Outcome = {
    val t0 = System.nanoTime()
    try {
      val d = digestOf(q.fn(spark, dir))
      Outcome(q.name, (System.nanoTime() - t0) / 1e9, d, "")
    } catch {
      case e: Throwable => failed(q, t0, e)
    }
  }

  /** The traced form of one query: `q.fn` (build, incl. eager fits and
    * driver pulls), `executedPlan` (plan), the digest action (exec), and
    * the engine counters each incurred.
    */
  def traceOne(spark: SparkSession, q: Q, dir: String,
      counters: SparkCounters): (Outcome, Map[String, Double]) = {
    val s0 = counters.snapshot()
    val t0 = System.nanoTime()
    try {
      val df = q.fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val d = digestOf(df)
      val t3 = System.nanoTime()
      val c = SparkCounters.diff(s0, counters.snapshot())
      (Outcome(q.name, (t3 - t0) / 1e9, d, ""),
        Map("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
          "jobs" -> c("jobs"), "shuffle_mb" -> (c("shuffle_write_mb") + c("shuffle_read_mb")),
          "spill_mb" -> c("spill_mb"), "result_mb" -> c("result_mb")))
    } catch {
      case e: Throwable => (failed(q, t0, e), Map.empty)
    }
  }

  private def failed(q: Q, t0: Long, e: Throwable): Outcome =
    Outcome(q.name, (System.nanoTime() - t0) / 1e9, "",
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")

  /** Per-family sums of the traced split, named `<family>.<metric>`. */
  def familyMetrics(perQuery: Seq[(String, Map[String, Double])]): Map[String, Double] =
    perQuery.groupBy { case (n, _) => Bench.familyOf.getOrElse(n, "other") }.toSeq.flatMap {
      case (fam, rows) => rows.flatMap(_._2.toSeq).groupBy(_._1).map {
        case (k, vs) => s"$fam.$k" -> vs.map(_._2).sum
      }
    }.toMap

  /** The all-pairs edit-distance oracle takes minutes and the ccnet bucket
    * oracle seconds in DuckDB on the full corpus; these two are checked
    * against their oracle on the small corpus instead.
    */
  val SmallOracle: Set[String] = Set("q_edit_dedup_groups", "q_f19c_ccnet_buckets")

  /** Write each query's result once and digest what was written. */
  def dump(spark: SparkSession, qs: Seq[Q], dir: String, out: String): Map[String, String] =
    qs.map { q =>
      q.name -> (try {
        q.fn(spark, dir).write.mode("overwrite").parquet(s"$out/${q.name}")
        digestOf(spark.read.parquet(s"$out/${q.name}"))
      } catch { case e: Throwable => s"error ${e.getClass.getName}: ${e.getMessage}" })
    }.toMap

  /** Checks of the MinHash near-dup pairs that need no oracle, against the
    * corpus they were computed from (`times` copies of each base doc):
    * every pair is ordered, unique, of known docs, with an estimate on the
    * 32-permutation grid within [0.5, 1]; every two docs with identical
    * text are a pair estimated 1.0; and at least 95 % of the copymark
    * siblings whose word-3-gram Jaccard is ≥ 0.8 are found (banded LSH
    * misses such a pair with probability ≤ 1.5 %).
    */
  def minhashPairProblems(spark: SparkSession, corpus: String, result: String,
      times: Int): Seq[String] = {
    val text = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = spark.read.parquet(result).select("a_id", "b_id", "est_jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val est = pairs.toMap
    val grid = (16 to 32).map(k => math.floor(k / 32.0 * 10000) / 10000)
    val bad = pairs.filterNot { case ((a, b), e) =>
      a < b && text.contains(a) && text.contains(b) && grid.exists(g => math.abs(g - e) < 1e-9)
    }
    def grams(t: String): Set[String] = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val exactMissing = text.toSeq.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      .flatMap(ids => ids.combinations(2).map(p => (p(0), p(1))))
      .count(p => !est.get(p).contains(1.0))
    val siblings = text.keys.toSeq.groupBy(_ / times).values.toSeq
      .flatMap(ids => ids.sorted.combinations(2).map(p => (p(0), p(1))))
      .filter { case (a, b) =>
        val (ga, gb) = (grams(text(a)), grams(text(b)))
        (ga & gb).size >= 0.8 * (ga | gb).size
      }
    val found = siblings.count(est.contains)
    Seq(
      if (pairs.length != est.size) Some(s"${pairs.length - est.size} duplicate pairs") else None,
      if (bad.nonEmpty) Some(s"${bad.length} malformed pairs, first ${bad.head}") else None,
      if (exactMissing > 0) Some(s"$exactMissing identical-text pairs missing or below 1.0") else None,
      if (found < 0.95 * siblings.size) Some(s"found $found of ${siblings.size} near-dup siblings")
      else None
    ).flatten.map(m => s"q_f2_minhash_pairs: $m")
  }

  /** Checks of the edit-distance dedup groups on the full corpus, whose
    * oracle runs only on the small one: every doc appears once; a
    * cluster's id is its smallest member and its size the member count;
    * and the `times` copies of a base doc, one byte edit apart, share a
    * cluster.
    */
  def editGroupProblems(spark: SparkSession, corpus: String, result: String,
      times: Int): Seq[String] = {
    val ids = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id").collect()
      .map(_.getLong(0))
    val rows = spark.read.parquet(result).select("doc_id", "cluster_id", "cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val members = rows.groupBy(_._2)
    val badClusters = members.count { case (c, ms) =>
      ms.map(_._1).min != c || ms.exists(_._3 != ms.length)
    }
    val split = ids.groupBy(_ / times).count { case (_, sib) => sib.map(cluster.get).distinct.length > 1 }
    Seq(
      if (rows.length != ids.length || cluster.keySet != ids.toSet)
        Some(s"${rows.length} rows for ${ids.length} docs") else None,
      if (badClusters > 0) Some(s"$badClusters clusters with a wrong id or size") else None,
      if (split > 0) Some(s"$split copymark sibling sets split across clusters") else None
    ).flatten.map(m => s"q_edit_dedup_groups: $m")
  }
}
