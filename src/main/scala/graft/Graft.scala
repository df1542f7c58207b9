package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{Fingerprint64, HashedLinearScore, HashedShingles, LongArrayDot, MinhashSig, NfcNormalize, PositionalGramHashes, StripAccents, Simhash32, SqlFunctions}
import graft.operators.Retention

/** Session facade for the graft engine — the analogue of the reference's
  * `SessionContext` setup + `register_udaf` calls
  * (reference: examples/retention.rs:17-20,
  * tests/sqllogictests/src/main.rs:241-283).
  */
object Graft {

  /** Generated-class cache size set by [[localSession]]. One `uba_sweep`
    * pass (14 UBA queries) generates ~200 whole-stage classes and one
    * curation pass ~160, against Spark's default of 100 entries: every
    * warm pass evicted and Janino-recompiled all of them, and the JIT
    * then compiled the fresh classes again. At 2000 entries a warm pass
    * compiles nothing instead of ~197 (uba_sweep) and ~155 (curation)
    * classes; a resident class costs roughly 30 KB of heap.
    *
    * The cache is keyed on the generated source, which by default names
    * each class after its whole-stage codegen stage id. AQE numbers
    * stages in the order they are planned, which follows which earlier
    * stage finished first, so an unchanged plan could come back with
    * permuted ids and miss the cache (0–10 recompiles per warm
    * `uba_sweep` pass). [[localSession]] therefore also turns
    * `spark.sql.codegen.useIdInClassName` off. */
  private[graft] val CodegenCacheEntries = 2000

  /** Builds a local session tuned for this machine. On a real cluster the
    * caller owns the builder and only needs [[registerAll]].
    *
    * `spark.sql.codegen.cache.maxEntries` is a static conf and the cache
    * behind it is JVM-global: it is sized once, by the first session in
    * the JVM that generates code. A session built here after another
    * one has already compiled a query keeps that earlier size. Callers
    * that build their own session should set it themselves (README,
    * "Session setup").
    */
  def localSession(
      appName: String = "graft",
      cores: Int = Runtime.getRuntime.availableProcessors(),
      shufflePartitions: Int = 32): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]").appName(appName)
    sessionConfs(shufflePartitions).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerAll(spark)
    spark
  }

  /** The confs [[localSession]] sets besides master and app name. */
  private[graft] def sessionConfs(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.ui.enabled" -> "false")

  /** Registers every SQL-callable function the library provides. */
  def registerAll(spark: SparkSession): Unit = {
    Retention.register(spark)
    LongArrayDot.register(spark)
    MinhashSig.register(spark)
    HashedShingles.register(spark)
    PositionalGramHashes.register(spark)
    Simhash32.register(spark)
    Fingerprint64.register(spark)
    HashedLinearScore.register(spark)
    NfcNormalize.register(spark)
    StripAccents.register(spark)
    SqlFunctions.registerAll(spark)
  }

  /** Applies S3A object-store configuration to the session's Hadoop conf —
    * the Spark analogue of the reference's `register_object_store` +
    * listing-table setup over a MinIO endpoint
    * (reference: tests/test_with_minio.rs:84-92). After this,
    * `spark.read.parquet("s3a://bucket/path/")` performs the same listing
    * scan (with parquet pruning, on by default in Spark).
    */
  def s3aConf(
      spark: SparkSession,
      endpoint: String,
      accessKey: String,
      secretKey: String,
      pathStyleAccess: Boolean = true,
      sslEnabled: Boolean = false): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyleAccess.toString)
    hc.set("fs.s3a.connection.ssl.enabled", sslEnabled.toString)
    hc.set("fs.s3a.aws.credentials.provider",
      "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
  }
}

/** Config-based injection: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes the library's native expressions available in every session of a
  * cluster without code changes (the deployment-style analogue of
  * [[Graft.registerAll]]; the Aggregator-based UDAFs still need the
  * session-level `registerAll` because `functions.udaf` registration is
  * per-session by design).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier(LongArrayDot.name),
      new ExpressionInfo(classOf[graft.functions.LongArrayDot].getName, LongArrayDot.name),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.LongArrayDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier(MinhashSig.name),
      new ExpressionInfo(classOf[graft.functions.MinhashSig].getName, MinhashSig.name),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.MinhashSig(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier(HashedShingles.name),
      new ExpressionInfo(classOf[graft.functions.HashedShingles].getName, HashedShingles.name),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HashedShingles(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier(PositionalGramHashes.name),
      new ExpressionInfo(classOf[graft.functions.PositionalGramHashes].getName,
        PositionalGramHashes.name),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.PositionalGramHashes(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier(Simhash32.name),
      new ExpressionInfo(classOf[graft.functions.Simhash32].getName, Simhash32.name),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Simhash32(exprs(0))))
    e.injectFunction((
      FunctionIdentifier(Fingerprint64.name),
      new ExpressionInfo(classOf[graft.functions.Fingerprint64].getName, Fingerprint64.name),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Fingerprint64(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())))
    // the composed text/PII scalar surface (same builders as the
    // session-level SqlFunctions.registerAll)
    graft.functions.SqlFunctions.all.foreach { case (name, arity, f) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.SqlFunctions", name),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.functions.SqlFunctions.builder(name, arity, f)(exprs)))
    }
  }
}
