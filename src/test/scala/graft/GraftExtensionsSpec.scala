package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions activation path: a session built with
  * GraftExtensions gets the native functions AND the optimizer rule. */
class GraftExtensionsSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  private lazy val extSpark: SparkSession = {
    // getOrCreate() would silently reuse the shared test session WITHOUT
    // extensions (they only apply at session construction) — clear the
    // registry so a genuinely new session (over the shared context) is
    // built. Other suites hold their session object directly, so this
    // doesn't disturb them.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions, not the config string: `spark.sql.extensions` is
    // read from the SparkContext conf, which another suite may already
    // have created without it. Production sessions (fresh context) use
    // .config("spark.sql.extensions", "graft.plans.GraftExtensions").
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      // static confs (warehouse dir) are fixed by whichever session is
      // built FIRST in the JVM — keep them identical to SparkSuite's so
      // suite execution order can't leak a wrong warehouse into ScaleSpec
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // A session built WITHOUT the extensions, the functions added by
  // `register`. Forced in beforeAll, before `extSpark` becomes the
  // default session, so SparkSuite's getOrCreate cannot hand back the
  // extension-built one; a newSession starts from the builtin registry.
  private lazy val registeredSpark: SparkSession = {
    val s = SparkSuite.session.newSession()
    assert(!s.catalog.functionExists("graft_simhash"), "session already carries graft functions")
    graft.plans.GraftExtensions.register(s)
    s
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    registeredSpark
  }

  override def afterAll(): Unit = {
    // un-register this session and hand the default back to the shared
    // (extension-free) test session, which beforeAll has built: a later
    // suite's getOrCreate or SparkSession.active must not reach ours
    SparkSession.clearActiveSession()
    SparkSession.setDefaultSession(SparkSuite.session)
    super.afterAll()
  }

  test("extensions-built session exposes graft functions via SQL") {
    import extSpark.implicits._
    val out = Seq(Seq(1f, 0f)).toDF("v").createOrReplaceTempView("vecs")
    val r = extSpark.sql(
      "SELECT graft_cosine(v, array(1.0F, 0.0F)) AS c FROM vecs").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("SelfCosineRule folds graft_cosine(v, v) out of the plan") {
    // a file scan, NOT a local relation — ConvertToLocalRelation would
    // eagerly evaluate the expression before our rule could fold it
    extSpark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_v")
    val df = extSpark.sql("SELECT graft_cosine(embedding, embedding) AS c FROM emb_v")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_cosine("),
      s"self-cosine should be folded:\n$optimized")
    assert(optimized.contains("graft_self_cosine"),
      s"fold target missing:\n$optimized")
    // the rewrite is value-preserving BIT-FOR-BIT, FP quirks included
    // (cosine(v,v) is ≈1 but not exactly 1 when √na·√na ≠ na): compare
    // against the raw expression evaluated through Similarity.cosine
    val folded = df.collect().map(_.getDouble(0))
    val raw = extSpark.table("emb_v")
      .select(graft.functions.Similarity.cosine(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(0))
    assert(folded.sorted.toSeq == raw.sorted.toSeq)
  }

  test("null vector stays null after the fold") {
    import extSpark.implicits._
    val r = extSpark.sql(
      "SELECT graft_cosine(CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<FLOAT>)) AS c")
      .head()
    assert(r.isNullAt(0))
  }

  test("register() enforces the same arity checks and messages as the extensions") {
    def message(s: SparkSession, call: String): String = {
      val e = intercept[Exception](s.sql(s"SELECT $call AS x").collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i.getMessage }
        .getOrElse(fail(s"$call raised no IllegalArgumentException: $e"))
    }
    Seq(
      "graft_simhash(array('a'), array('b'))",
      "graft_cosine(array(1.0F))",
      "graft_jaccard(array(1L))",
      "graft_band_keys(array('a'), 4)",
      "graft_lsh_xx(array(1.0F), 4)",
      "graft_lsh_md5(array(1.0F), 4, 0, 1)",
      "graft_pq_encode(array(1.0F))",
      "graft_pq_adc(array(1), array(1.0F), 3)").foreach { call =>
      val ext = message(extSpark, call)
      assert(ext.contains("takes"), s"$call: $ext")
      assert(message(registeredSpark, call) == ext, call)
    }
  }
}
