package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The `spark.sql.extensions=graft.GraftExtensions` integration point: a
  * session built with the extensions class must expose every fused graft
  * expression to SQL TEXT, and the extension is the only thing that names
  * them — the Column API never touches the session function registry.
  */
class ExtensionsSpec extends SparkSpec {

  /** Build (and tear down around the test) a session with GraftExtensions
    * injected at build time. `spark.sql.extensions=graft.GraftExtensions`
    * is read from the SparkCONTEXT's static conf, which in this shared-
    * context test JVM was fixed before the spec ran — so the spec goes
    * through the builder's `withExtensions` hook, which appends to the
    * exact same `SparkSessionExtensions` instance the config-string path
    * populates (same injection list, same session-state build).
    */
  private def withExtensionsSession[A](f: SparkSession => A): A = {
    val base = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("all eight expressions resolve and compute from SQL text") {
    withExtensionsSession { s =>
      val r = s.sql(
        """SELECT
             graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
             go_json_escape('a"b') AS esc,
             graft_srp_bucket(array(1.0d, 2.0d), 4) AS bucket4,
             graft_srp_bucket(array(1.0d, 2.0d), 4, 8) AS bucket_t2,
             graft_srp_bucket(array(1.0d, 2.0d)) AS bucket_default,
             graft_shingle_set(array('a', 'b', 'c', 'a', 'b', 'c')) AS sh,
             graft_minhash_sig(array('a', 'b', 'c')) AS mh,
             graft_simhash_sig(array('a', 'b', 'c')) AS sim64,
             graft_parse_vals('[a|b];[c|d]') AS vals,
             graft_map_rows(array('c1', 'c2'), array(array('x', 'y'))) AS mapped
        """).collect().head
      assert(r.getAs[Double]("cos") == 1.0)
      assert(r.getAs[String]("esc") == "a\\\"b")
      // 4-plane bucket ∈ [0, 16); default = 8 planes ∈ [0, 256)
      assert(r.getAs[Long]("bucket4") >= 0 && r.getAs[Long]("bucket4") < 16)
      assert(r.getAs[Long]("bucket_default") >= 0 && r.getAs[Long]("bucket_default") < 256)
      // distinct 3-gram shingles of (a b c a b c): 4 windows, 3 distinct
      assert(r.getAs[collection.Seq[String]]("sh").size == 3)
      assert(r.getAs[collection.Seq[Long]]("mh").nonEmpty)
      r.getAs[Long]("sim64") // typed Long — resolution is the assertion
      assert(r.getAs[collection.Seq[collection.Seq[String]]]("vals")
        .map(_.toList).toList == List(List("a", "b"), List("c", "d")))
      assert(r.getAs[collection.Seq[org.apache.spark.sql.Row]]("mapped").size == 1)
      // SQL-text values must agree with the Column-API builders
      import org.apache.spark.sql.functions._
      val viaApi = s.range(1)
        .select(graft.functions.SrpBucket(
          array(lit(1.0), lit(2.0)), 4, 8).as("b"))
        .collect().head.getLong(0)
      assert(r.getAs[Long]("bucket_t2") == viaApi)
    }
  }

  test("non-literal plane count is rejected with a clear error") {
    withExtensionsSession { s =>
      val e = intercept[Exception] {
        s.sql("SELECT graft_srp_bucket(array(1.0d), CAST(id AS INT)) FROM range(1)").collect()
      }
      assert(e.getMessage.contains("literal integer"),
        s"unexpected message: ${e.getMessage}")
    }
  }

  test("a mis-typed argument fails at analysis for every SQL name") {
    val misTyped = Seq(
      "graft_cosine(array('a'), array('b'))",
      "go_json_escape(array('x'))",
      "graft_parse_vals(array('x'))",
      "graft_map_rows(array('c1'), array('x'))",
      "graft_minhash_sig(array(1, 2, 3))",
      "graft_simhash_sig('a b c')",
      "graft_shingle_set(array(1.0d))",
      "graft_srp_bucket(array('a'), 4)")
    assert(misTyped.map(_.takeWhile(_ != '(')).toSet ==
      GraftExtensions.sqlFunctions.map(_._1).toSet)
    withExtensionsSession { s =>
      misTyped.foreach { call =>
        val e = intercept[AnalysisException](s.sql(s"SELECT $call"))
        assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$call: ${e.getMessage}")
      }
    }
  }

  test("library calls leave a fresh session's function registry untouched") {
    val s = spark.newSession()
    import s.implicits._
    val turns = Seq(
      graft.model.Turn("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search", t0),
      graft.model.Turn("c1", 2, "user", "EVENT query stmt=DROP TABLE `x`", "search", t0),
      graft.model.Turn("c1", 3, "user", "EVENT commit xid=7", "search", t0)).toDF()
    val routed = Pipeline.routed(turns, graft.sources.Transcripts.lookup(s))
    assert(routed.select(graft.functions.CanonicalJson.jsonColumnCompact).count() == 2)
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox sleeps"))
      .toDF("doc_id", "text")
    assert(graft.dedup.Dedup.minhashSigs(docs).count() == 2)
    assert(graft.dedup.Dedup.simhashDocs(docs).count() == 2)
    val registry = s.sessionState.functionRegistry
    GraftExtensions.sqlFunctions.foreach { case (name, _, _) =>
      assert(!registry.functionExists(FunctionIdentifier(name)), s"$name was registered")
    }
  }
}
