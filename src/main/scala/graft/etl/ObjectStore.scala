package graft.etl

/** Object-store landing contract — the reference's own stated future
  * direction (`README.md` "Future Development": move the JSON landing
  * zone and warehouse to cloud storage; `aws_etl.drawio`). Every graft
  * source and sink addresses data by URI string ([[Tables.table]],
  * [[JsonDirSource]], [[WarehouseSink.overwritePath]], persisted
  * index/posting paths), so `s3a://bucket/prefix` flows through every
  * operator unchanged once the standard Hadoop S3A connector is
  * configured. This object lists that configuration, using only public
  * `fs.s3a.*` settings (hadoop-aws), nothing proprietary, as confs the
  * engine session is built with; it changes no running session.
  *
  * 100 TB posture — the two settings that actually matter at scale:
  *
  *  - '''Committer.''' S3 has no atomic directory rename, so the
  *    default `FileOutputCommitter` (rename-based, v1 or v2) is both
  *    slow (copy+delete per file) and unsafe under failure. The S3A
  *    "magic" committer writes task output as in-flight multipart
  *    uploads and completes them atomically at job commit —
  *    [[confs]] with `committers` enables it exactly as documented in
  *    the hadoop-aws committer guide.
  *  - '''Connection fan-out.''' A 1000-executor scan issues far more
  *    concurrent GETs than the connector's default pool allows;
  *    [[confs]] raises `fs.s3a.connection.maximum` / thread pool
  *    alongside the endpoint settings.
  *
  * This sandbox is zero-egress and ships no object store, so the
  * contract is configuration-only here (spec-asserted); on a real
  * cluster it is the one switch between `file:/` and `s3a://` layouts.
  */
object ObjectStore {

  /** Connector settings: all optional — `None` leaves the public AWS
    * default-chain behavior (instance profile / env credentials, the
    * real-cluster default). `endpoint` + `pathStyleAccess` cover
    * S3-compatible stores (MinIO, localstack) for integration rigs. */
  final case class S3Settings(
      endpoint: Option[String] = None,
      region: Option[String] = None,
      pathStyleAccess: Boolean = false,
      credentialsProvider: Option[String] = None,
      maxConnections: Int = 256)

  /** Confs for `GraftSession.create(master, confs*)`: the connector
    * settings as `spark.hadoop.*` (Spark copies them into the context's
    * Hadoop configuration at start) and, with `committers`, the S3A
    * magic committer for `s3a://` output. Spark validates committer
    * classes, so the two SQL committer keys come only when the
    * `spark-hadoop-cloud` module is on the classpath; its
    * `PathOutputCommitProtocol` binds per scheme, so `file:/` writes
    * keep their default committer. */
  def confs(s3: S3Settings = S3Settings(),
      committers: Boolean = false): Seq[(String, String)] = {
    val hadoop = Seq(
        "fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem") ++
      s3.endpoint.map("fs.s3a.endpoint" -> _) ++
      s3.region.map("fs.s3a.endpoint.region" -> _) ++
      Option.when(s3.pathStyleAccess)("fs.s3a.path.style.access" -> "true") ++
      s3.credentialsProvider.map("fs.s3a.aws.credentials.provider" -> _) ++
      Seq("fs.s3a.connection.maximum" -> s3.maxConnections.toString,
        "fs.s3a.threads.max" -> (s3.maxConnections / 4).toString,
        "fs.s3a.fast.upload" -> "true") ++
      (if (!committers) Nil else Seq(
        "fs.s3a.committer.name" -> "magic",
        "fs.s3a.committer.magic.enabled" -> "true",
        "mapreduce.outputcommitter.factory.scheme.s3a" ->
          "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"))
    val sql = if (!committers || !cloudCommitterPresent) Nil else Seq(
      "spark.sql.parquet.output.committer.class" ->
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
      "spark.sql.sources.commitProtocolClass" ->
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")
    hadoop.map { case (k, v) => s"spark.hadoop.$k" -> v } ++ sql
  }

  private def cloudCommitterPresent: Boolean = scala.util.Try(Class.forName(
    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")).isSuccess

  /** Resolve a table/landing path against a root URI: the one-line
    * switch between a local layout and an object-store layout.
    * `resolve("s3a://corpus/landing", "documents")` →
    * `s3a://corpus/landing/documents`. */
  def resolve(root: String, name: String): String =
    root.stripSuffix("/") + "/" + name.stripPrefix("/")
}
