package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CREATE SECRET / DROP SECRET / duckdb_secrets() — the reference's
  * credential objects (src/parser/parsed_data/create_secret_info.hpp;
  * semantics pinned against test/sql/secrets/create_secret_defaults
  * .test): named, typed, scoped credential bundles the storage layer
  * consults when it opens a path.
  *
  * Engine mapping, stated honestly: Spark's storage credentials live
  * in the Hadoop configuration, so an S3-family secret applies its
  * KEY_ID/SECRET/REGION/ENDPOINT onto `fs.s3a.*` — per-bucket
  * (`fs.s3a.bucket.<b>.*`) when the SCOPE names a bucket, global
  * otherwise. That is bucket-granular, not arbitrary-path-prefix
  * granular like the reference's scope matcher; the registry itself
  * (names, defaults, scopes, redacted listing) follows the reference
  * exactly. Non-S3 types register and list but configure nothing
  * (no such connector in this environment) — documented divergence.
  */
object Secrets {

  final case class Secret(name: String, typ: String, provider: String,
                          persistent: Boolean, scope: Seq[String],
                          keys: Map[String, String])

  private val reg = new ConcurrentHashMap[String, Secret]()

  val CreateRe =
    """(?is)^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(PERSISTENT|TEMPORARY)\s+)?SECRET\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+\s+)?\(\s*(.*?)\s*\)\s*;?\s*$""".r
  val DropRe =
    // optional PERSISTENT/TEMPORARY qualifier and `FROM <storage>`
    // suffix (drop_secret syntax) — the storage operand is advisory
    // here (one in-memory registry backs both persistence modes)
    """(?is)^\s*DROP\s+(?:(?:PERSISTENT|TEMPORARY)\s+)?SECRET\s+(?:(IF\s+EXISTS)\s+)?(\w+)(?:\s+FROM\s+\w+)?\s*;?\s*$""".r

  private def defaultScope(typ: String): Seq[String] = typ.toLowerCase match {
    case "s3" => Seq("s3://", "s3n://", "s3a://")
    case "r2" => Seq("r2://")
    case "gcs" => Seq("gcs://", "gs://")
    case "azure" => Seq("azure://", "az://", "abfss://")
    case "http" | "huggingface" => Seq("hf://")
    case _ => Nil
  }

  def create(spark: SparkSession, orReplace: Boolean, persistent: Boolean,
             ifNotExists: Boolean, name0: Option[String], body: String): Unit = {
    val kv = SqlText.splitTop(body, ',').flatMap { p =>
      val t = p.trim
      val sp = t.indexWhere(_.isWhitespace)
      lazy val v = t.substring(sp + 1).trim
      if (sp < 0) None
      else Some(t.substring(0, sp).toUpperCase -> SqlText.decode(v).getOrElse(v))
    }.toMap
    val typ = kv.getOrElse("TYPE",
      throw new IllegalArgumentException("CREATE SECRET: TYPE is required")).toLowerCase
    val name = name0.map(_.trim.toLowerCase).getOrElse(s"__default_$typ")
    if (reg.containsKey(name) && !orReplace) {
      if (ifNotExists) return
      throw new IllegalArgumentException(
        s"CREATE SECRET: secret '$name' already exists (use OR REPLACE)")
    }
    val provider = kv.getOrElse("PROVIDER", "config").toLowerCase
    val scope = kv.get("SCOPE").map(s => Seq(s)).getOrElse(defaultScope(typ))
    val sec = Secret(name, typ, provider, persistent, scope,
      kv -- Seq("TYPE", "PROVIDER", "SCOPE"))
    reg.put(name, sec)
    applyToHadoop(spark, sec)
  }

  def drop(name: String, ifExists: Boolean): Unit = {
    val had = reg.remove(name.toLowerCase) != null
    if (!had && !ifExists)
      throw new IllegalArgumentException(s"DROP SECRET: no secret '$name'")
  }

  /** S3-family secrets configure the s3a connector. A bucket-scoped
    * secret writes the per-bucket override keys.
    */
  private def applyToHadoop(spark: SparkSession, s: Secret): Unit = {
    if (s.typ != "s3" && s.typ != "r2" && s.typ != "gcs") return
    val conf = spark.sparkContext.hadoopConfiguration
    val bucket = s.scope.collectFirst {
      case sc if sc.matches("(?i)s3[an]?://[^/]+.*") =>
        sc.replaceFirst("(?i)s3[an]?://", "").takeWhile(_ != '/')
    }.filter(_.nonEmpty)
    val prefix = bucket.map(b => s"fs.s3a.bucket.$b.").getOrElse("fs.s3a.")
    s.keys.get("KEY_ID").foreach(v => conf.set(prefix + "access.key", v))
    s.keys.get("SECRET").foreach(v => conf.set(prefix + "secret.key", v))
    s.keys.get("SESSION_TOKEN").foreach(v => conf.set(prefix + "session.token", v))
    s.keys.get("REGION").foreach(v => conf.set(prefix + "endpoint.region", v))
    s.keys.get("ENDPOINT").foreach(v => conf.set(prefix + "endpoint", v))
  }

  /** duckdb_secrets() listing — secret values REDACTED like the
    * reference (it prints `redacted` for sensitive keys).
    */
  def listDf(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    val sorted = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Secret]
      reg.forEach((_, v) => b += v)
      b.sortBy(_.name)
    }
    sorted.foreach { s =>
      rows.add(Row(s.name, if (s.persistent) "1" else "0",
        if (s.persistent) "local_file" else "memory",
        s.provider, s.typ, s"[${s.scope.mkString(", ")}]"))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("persistent", StringType, nullable = false),
      StructField("storage", StringType, nullable = false),
      StructField("provider", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("scope", StringType, nullable = false))))
  }

  def clearAll(): Unit = reg.clear()
}
