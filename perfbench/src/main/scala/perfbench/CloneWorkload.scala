package perfbench

import graft.Tables
import graft.catalog.Introspector
import graft.ddl.DdlRenderer
import graft.ddl.DdlRenderer.{ForeignKey, IndexSpec, KeyConstraint, TableSpec}
import graft.io.{Literals, Readers, ScriptExecutor, Writers}
import graft.pipeline.ClonePipeline
import graft.types.TypeMapper.SqlColumn
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties

/** The paper's whole-database clone, twice per iteration:
  *  - parquet → parquet: `ClonePipeline.clone` over the ten sf0.1 tables
  *    (it renders its own DDL after the copy);
  *  - Derby → Derby over JDBC: introspect the source catalog, render its
  *    T-SQL, create the target tables, copy every table (identity tables
  *    through `Writers.jdbcWithSessionSetup` at batch 1000, the others
  *    through `Writers.jdbc` at batch 3000), then add the constraints.
  * The seed sets the order the tables are handed to each clone. Targets
  * are checked table by table against their source after the timed window.
  */
final class CloneWorkload(corpus: File, expected: Map[String, Checksum.Digest], seed: Long,
    ctx: Ctx) extends Workload {
  import CloneWorkload.Plan
  private val parquetSrc = s"$corpus/sf0.1"
  private val derbySrc = s"$corpus/sf0.01"
  private val rnd = new scala.util.Random(seed)
  private val parquetOrder = rnd.shuffle(Tables.names)
  private val jdbcOrder = rnd.shuffle(DerbySource.tables.map(_.name.toUpperCase))
  private val srcUrl = "jdbc:derby:memory:perfbench_src"
  private val props = new Properties()
  private val tr = ctx.tracer
  private var n = 0

  private val srcBytes = Tables.names.map(t => new File(s"$parquetSrc/$t.parquet").length).sum
  private def parquetKey(t: String) = s"clone.parquet.$t"
  private def jdbcKey(t: String) = s"clone.jdbc.$t"
  // the last iteration's targets, kept for the correctness check
  private var last: Option[(File, String, Option[ClonePipeline.CloneReport], Plan)] = None

  def stage(spark: SparkSession): Unit =
    DerbySource.stage(spark, derbySrc, srcUrl, ctx.nproc, new File(corpus.getParentFile, "derby-source"))

  /** The first clone after a session start runs ~2x slower than the later
    * ones (JIT, codegen, page cache), so one untimed iteration warms up.
    */
  def warmup(spark: SparkSession): Unit = iteration(spark, traced = false)

  def iteration(spark: SparkSession, traced: Boolean): Iter = {
    dropLast()
    n += 1
    val counters = ctx.counters(spark, traced)
    val before = counters.map(_.snapshot)
    val layer = Map.newBuilder[String, Double]

    val tgt = new File(ctx.work, s"clone/parquet-$n")
    val t0 = System.nanoTime()
    val report = ctx.attempt("parquet clone") {
      tr.span("pipeline.clone")(ClonePipeline.clone(spark, parquetSrc, tgt.getPath, parquetOrder))
    }
    val parquetS = (System.nanoTime() - t0) / 1e9

    val tgtUrl = s"jdbc:derby:memory:perfbench_tgt_$n"
    val t1 = System.nanoTime()
    val plan = tr.span("jdbc.clone")(jdbcClone(spark, tgtUrl))
    val jdbcS = (System.nanoTime() - t1) / 1e9
    val wall = parquetS + jdbcS
    last = Some((tgt, tgtUrl, report, plan))
    for (c <- counters; b <- before) layer ++= ctx.sparkMetrics(spark, c, b, wall)
    if (traced) {
      layer ++= parquetLayers(spark, tgt, parquetS, counters)
      layer ++= jdbcLayers(spark, tgtUrl, jdbcS, plan)
    }
    Iter(wall, rows(parquetKey, parquetOrder) + rows(jdbcKey, jdbcOrder), layer.result())
  }

  private def rows(key: String => String, tables: Seq[String]): Long =
    tables.flatMap(t => expected.get(key(t))).map(_.rows).sum

  /** Every table of the last targets must hold its source's rows, and the
    * JDBC target's catalog must carry the source's keys and indexes.
    */
  override def check(spark: SparkSession): Unit = last.foreach { case (tgt, tgtUrl, report, plan) =>
    parquetOrder.foreach { t =>
      val want = expected.get(parquetKey(t))
      ctx.expect(s"parquet $t", want.map(_.toString),
        ctx.attempt(s"digest of parquet $t")(Checksum.exact(spark.read.parquet(s"$tgt/$t.parquet")))
          .fold("<error>")(_.toString))
      ctx.expect(s"parquet $t reported rows", want.map(_.rows.toString),
        report.flatMap(_.rowCounts.get(t)).fold("<none>")(_.toString))
    }
    jdbcOrder.foreach { t =>
      ctx.expect(s"JDBC $t", expected.get(jdbcKey(t)).map(_.toString),
        ctx.attempt(s"digest of JDBC $t")(Checksum.exact(Readers.jdbc(spark, tgtUrl, t, props)))
          .fold("<error>")(_.toString))
    }
    val conn = DriverManager.getConnection(tgtUrl)
    try {
      val back = introspect(conn)
      def ix(p: Plan) = p.indexes.map(i => (i.table, i.unique, i.keyCols)).toSet
      ctx.expect("JDBC primary keys", Some(plan.pks.toSet.toString), back.pks.toSet.toString)
      ctx.expect("JDBC foreign keys", Some(plan.fks.toSet.toString), back.fks.toSet.toString)
      ctx.expect("JDBC indexes", Some(ix(plan).toString), ix(back).toString)
    } finally conn.close()
  }

  /** Digests of the clone sources, which every target must reproduce. */
  override def record(spark: SparkSession): Seq[(String, Checksum.Digest)] =
    parquetOrder.map(t => parquetKey(t) -> Checksum.exact(Tables.table(spark, parquetSrc, t))) ++
      jdbcOrder.map(t => jdbcKey(t) -> Checksum.exact(Readers.jdbc(spark, srcUrl, t, props)))

  private def dropLast(): Unit = last.foreach { case (tgt, tgtUrl, _, _) =>
    DerbySource.drop(tgtUrl)
    deleteTree(tgt)
    last = None
  }

  override def close(): Unit = {
    dropLast()
    DerbySource.drop(srcUrl)
  }

  // ------------------------------------------------------------ parquet

  /** Traced only: the clone's inner steps, each timed on its own, because
    * its concurrency cannot be seen from outside.
    */
  private def parquetLayers(spark: SparkSession, tgt: File, cloneS: Double,
      counters: Option[SparkCounters]): Seq[(String, Double)] = {
    val files = listFiles(tgt).filter(_.getName.endsWith(".parquet"))
    val bytesOut = files.map(_.length).sum.toDouble
    val jobs0 = counters.map { c => c.drain(spark.sparkContext); c.snapshot.jobs }
    val ddl = tr.span("ddl.render")(ClonePipeline.renderDdl(spark, parquetSrc, parquetOrder))
    val ddlJobs = counters.map { c => c.drain(spark.sparkContext); c.snapshot.jobs }
    val seq = new File(ctx.work, s"clone/sequential-$n")
    val tables = parquetOrder.map { t =>
      val path = s"$seq/$t.parquet"
      val t0 = System.nanoTime()
      tr.span("pipeline.table") {
        tr.span("writers.parquet")(Writers.parquet(Tables.table(spark, parquetSrc, t), path))
        tr.span("pipeline.target_count")(spark.read.parquet(path).count())
      }
      (System.nanoTime() - t0) / 1e9
    }
    deleteTree(seq)
    val copySum = tables.sum
    Seq(
      "pipeline.clone_s" -> cloneS,
      "pipeline.copy_sum_s" -> copySum,
      "pipeline.overlap" -> copySum / cloneS,
      "pipeline.slowest_table_s" -> tables.max,
      "pipeline.bytes_ratio" -> bytesOut / srcBytes,
      "ddl.render_s" -> tr.seconds("ddl.render").getOrElse(tr.iter, 0.0),
      "ddl.statements" -> ddl.values.map(ScriptExecutor.split(_).size).sum.toDouble,
      "ddl.bytes" -> ddl.values.map(_.getBytes("UTF-8").length).sum.toDouble,
      "ddl.spark_jobs" -> (for (a <- jobs0; b <- ddlJobs) yield (b - a).toDouble).getOrElse(0.0),
      "writers.parquet_s" -> tr.seconds("writers.parquet").getOrElse(tr.iter, 0.0),
      "writers.files_out" -> files.size.toDouble,
      "writers.bytes_out" -> bytesOut)
  }

  // --------------------------------------------------------------- JDBC

  private def jdbcClone(spark: SparkSession, tgtUrl: String): Plan = {
    val src = DriverManager.getConnection(srcUrl)
    val tgt = DriverManager.getConnection(tgtUrl + ";create=true")
    try {
      val plan = tr.span("catalog.introspect")(introspect(src))
      tr.count("catalog.tables", plan.specs.size)
      tr.count("catalog.constraints", plan.pks.size + plan.fks.size + plan.indexes.size)
      // the T-SQL a SQL Server target would run; Derby gets its own dialect
      tr.span("ddl.tsql")(plan.specs.map(DdlRenderer.createTable) ++
        plan.pks.map(DdlRenderer.addKeyConstraint) ++ plan.fks.map(DdlRenderer.addForeignKey) ++
        plan.indexes.map(DdlRenderer.createIndex))
      script(tgt, "script.create", plan.specs.map(DerbySource.createTable).mkString)

      val parent = tr.current
      val copies = jdbcOrder.map { t =>
        val spec = plan.specs.find(_.name == t).get
        val pk = plan.pks.find(_.table == t)
        () => tr.span("jdbc.table", parent)(copyTable(spark, src, tgtUrl, spec, pk))
      }
      jdbcOrder.zip(Parallel.run(4, copies)).foreach { case (t, r) => ctx.attempt(s"copy of $t")(r.get) }
      script(tgt, "script.constrain", constraintScript(plan))
      plan
    } finally { src.close(); tgt.close() }
  }

  private def introspect(conn: Connection): Plan = {
    val tables = Introspector.tables(conn).filter(_._1 == "APP")
    val specs = tables.map { case (s, t) => Introspector.tableSpec(conn, s, t) }
    val pks = tables.flatMap { case (s, t) => Introspector.primaryKey(conn, s, t) }
    val fks = tables.flatMap { case (s, t) => Introspector.foreignKeys(conn, s, t) }
    val ixs = tables.flatMap { case (s, t) => Introspector.indexes(conn, s, t) }
    Plan(specs, pks, fks, ixs)
  }

  /** Scans partitioned on a single-column numeric primary key, then the
    * reference's two write strategies, chosen by the identity flag.
    */
  private def copyTable(spark: SparkSession, src: Connection, tgtUrl: String,
      spec: TableSpec, pk: Option[KeyConstraint]): Unit = {
    val df = readSource(spark, src, spec, pk)
    if (spec.cols.exists(_.identity.isDefined))
      tr.span("writers.jdbc_identity")(
        Writers.jdbcWithSessionSetup(df, tgtUrl, spec.name, props, setup = Nil, batchSize = 1000))
    else
      tr.span("writers.jdbc")(
        Writers.jdbc(df, tgtUrl, spec.name, props, batchSize = 3000,
          clampDates = spec.name == "EVENTS"))
  }

  private def readSource(spark: SparkSession, src: Connection, spec: TableSpec,
      pk: Option[KeyConstraint]): DataFrame = {
    val numeric = Set("int", "bigint", "smallint", "tinyint")
    pk.map(_.cols) match {
      case Some(Seq(c)) if spec.cols.find(_.name == c).exists(x => numeric(x.typeName)) =>
        val (lo, hi) = src.synchronized {
          val st = src.createStatement()
          try {
            val rs = st.executeQuery(s"""SELECT MIN("$c"), MAX("$c") FROM "${spec.name}"""")
            rs.next()
            (rs.getLong(1), rs.getLong(2))
          } finally st.close()
        }
        Readers.jdbc(spark, srcUrl, spec.name, props, Some(c), lo, hi + 1, ctx.nproc)
      case _ => Readers.jdbc(spark, srcUrl, spec.name, props)
    }
  }

  /** Constraints in Derby's syntax, built from the introspected catalog.
    * Derby backs each foreign key with an index of its own, so an
    * introspected index on exactly a foreign key's columns is not created
    * again.
    */
  private def constraintScript(p: Plan): String = {
    def q(id: String) = "\"" + id + "\""
    def cols(cs: Seq[String]) = cs.map(q).mkString("(", ", ", ")")
    val pk = p.pks.map(k => s"ALTER TABLE ${q(k.table)} ADD CONSTRAINT ${q(k.name)} PRIMARY KEY ${cols(k.cols)}")
    val fk = p.fks.map(f => s"ALTER TABLE ${q(f.table)} ADD CONSTRAINT ${q(f.name)} " +
      s"FOREIGN KEY ${cols(f.cols)} REFERENCES ${q(f.refTable)} ${cols(f.refCols)}")
    val ix = p.indexes.filterNot(i => p.fks.exists(f => f.table == i.table && f.cols == i.keyCols))
      .map(i => s"CREATE ${if (i.unique) "UNIQUE " else ""}INDEX ${q(i.name)} ON ${q(i.table)} ${cols(i.keyCols)}")
    (pk ++ fk ++ ix).map(_ + "\nGO\n").mkString
  }

  private def script(conn: Connection, span: String, sql: String): Unit = {
    val r = tr.span(span)(ScriptExecutor.execute(conn, sql))
    ctx.attempted += r.succeeded + r.failed.size
    ctx.failed += r.failed.size
    if (r.failed.nonEmpty) {
      ctx.correct = false
      r.failed.foreach { case (b, e) => System.err.println(s"[perfbench] batch failed: $e\n$b") }
    }
    tr.count("script.batches", r.succeeded + r.failed.size)
    tr.count("script.failed", r.failed.size)
  }

  private def jdbcLayers(spark: SparkSession, tgtUrl: String, cloneS: Double,
      plan: Plan): Seq[(String, Double)] = {
    val conn = DriverManager.getConnection(tgtUrl)
    try tr.span("catalog.verify")(introspect(conn)) finally conn.close()
    // each source scan on its own, through the noop sink
    val src = DriverManager.getConnection(srcUrl)
    val partitions = try jdbcOrder.map { t =>
      val df = readSource(spark, src, plan.specs.find(_.name == t).get, plan.pks.find(_.table == t))
      tr.span("readers.jdbc")(df.write.format("noop").mode("overwrite").save())
      df.rdd.getNumPartitions
    }.sum finally src.close()
    val ref = RefPosture.run(srcUrl, s"jdbc:derby:memory:perfbench_ref_$n", constraintScript(plan),
      jdbcOrder, tr)
    def sec(n: String) = tr.seconds(n).getOrElse(tr.iter, 0.0)
    def cnt(n: String) = tr.counter(n).getOrElse(tr.iter, 0.0)
    Seq(
      "jdbc.clone_s" -> cloneS,
      "catalog.introspect_s" -> sec("catalog.introspect"),
      "catalog.tables" -> cnt("catalog.tables"),
      "catalog.constraints" -> cnt("catalog.constraints"),
      "catalog.verify_s" -> sec("catalog.verify"),
      "writers.jdbc_s" -> sec("writers.jdbc"),
      "writers.jdbc_identity_s" -> sec("writers.jdbc_identity"),
      "readers.jdbc_s" -> sec("readers.jdbc"),
      "readers.partitions" -> partitions.toDouble,
      "readers.rows" -> rows(jdbcKey, jdbcOrder).toDouble,
      "writers.rows" -> rows(jdbcKey, jdbcOrder).toDouble,
      "script.constrain_s" -> sec("script.constrain"),
      "script.batches" -> cnt("script.batches"),
      "script.failed" -> cnt("script.failed"),
      "ref_posture.clone_s" -> ref.seconds,
      "ref_posture.speedup" -> ref.seconds / cloneS,
      "literals.rows" -> ref.literalRows.toDouble,
      "literals.render_s" -> ref.renderSeconds)
  }

  private def listFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  private def deleteTree(d: File): Unit = {
    Option(d.listFiles).toSeq.flatten.foreach(deleteTree)
    d.delete()
  }
}

object CloneWorkload {
  /** What the JDBC clone learned from the source catalog. */
  final case class Plan(specs: Seq[TableSpec], pks: Seq[KeyConstraint],
      fks: Seq[ForeignKey], indexes: Seq[IndexSpec])
}

/** The reference's own posture, for comparison only (traced runs): tables
  * copied one after another, row by row through one thread; identity tables as literal
  * multi-row INSERTs of 1000 rows rendered by `Literals.toSqlLiteral`
  * (Program.cs:623-675), the others as prepared batches of 3000
  * (Program.cs:688-743).
  */
object RefPosture {
  final case class Result(seconds: Double, literalRows: Long, renderSeconds: Double)

  def run(srcUrl: String, tgtUrl: String, constraints: String, order: Seq[String],
      tr: Tracer): Result = {
    var literalRows = 0L
    var renderNs = 0L
    val t0 = System.nanoTime()
    val src = DriverManager.getConnection(srcUrl)
    val tgt = DriverManager.getConnection(tgtUrl + ";create=true")
    try tr.span("ref_posture.clone") {
      val specs = order.map(Introspector.tableSpec(src, "APP", _))
      ScriptExecutor.execute(tgt, specs.map(DerbySource.createTable).mkString)
      specs.foreach { spec =>
        val t = spec.name
        val names = spec.cols.map(_.name)
        val st = src.createStatement()
        val rs = st.executeQuery(s"""SELECT * FROM "$t"""")
        val rows = Iterator.continually(rs).takeWhile(_.next())
          .map(r => names.indices.map(i => r.getObject(i + 1)).toArray).toVector
        st.close()
        val colList = names.map("\"" + _ + "\"").mkString("(", ", ", ")")
        if (spec.cols.exists(_.identity.isDefined)) {
          rows.grouped(1000).foreach { batch =>
            val r0 = System.nanoTime()
            val values = batch.map(_.map(v => derbyLiteral(Literals.toSqlLiteral(v))).mkString("(", ", ", ")"))
            renderNs += System.nanoTime() - r0
            literalRows += batch.size
            val ins = tgt.createStatement()
            try ins.execute(s"""INSERT INTO "$t" $colList VALUES ${values.mkString(", ")}""")
            finally ins.close()
          }
        } else {
          val ps = tgt.prepareStatement(
            s"""INSERT INTO "$t" $colList VALUES ${names.map(_ => "?").mkString("(", ", ", ")")}""")
          try rows.grouped(3000).foreach { batch =>
            batch.foreach { r =>
              r.indices.foreach(i => ps.setObject(i + 1, r(i)))
              ps.addBatch()
            }
            ps.executeBatch()
          } finally ps.close()
        }
      }
      ScriptExecutor.execute(tgt, constraints)
    } finally { src.close(); tgt.close() }
    val secs = (System.nanoTime() - t0) / 1e9
    DerbySource.drop(tgtUrl)
    Result(secs, literalRows, renderNs / 1e9)
  }

  /** Derby has no N'...' national-character literal; the rendered value is
    * otherwise the reference's.
    */
  private def derbyLiteral(s: String): String = if (s.startsWith("N'")) s.substring(1) else s
}

/** The JDBC clone's source: the sf0.01 TPC-H tables and events in an
  * in-memory Derby database, with the keys, identity columns, foreign keys
  * and secondary indexes a SQL Server catalog would carry.
  */
object DerbySource {
  final case class Table(name: String, pk: Seq[String], identity: Boolean)

  val tables: Seq[Table] = Seq(
    Table("region", Seq("r_regionkey"), identity = true),
    Table("nation", Seq("n_nationkey"), identity = true),
    Table("customer", Seq("c_custkey"), identity = true),
    Table("supplier", Seq("s_suppkey"), identity = true),
    Table("part", Seq("p_partkey"), identity = true),
    Table("orders", Seq("o_orderkey"), identity = true),
    Table("lineitem", Nil, identity = false),
    Table("events", Seq("event_id"), identity = false))

  /** (table, column, referenced table, referenced column) */
  val foreignKeys: Seq[(String, String, String, String)] = Seq(
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"))

  val indexes: Seq[(String, String)] = Seq(
    ("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
    ("customer", "c_mktsegment"), ("events", "ts"))

  /** Restores the source from `backup` when an earlier run left one there;
    * otherwise builds it from the parquet corpus and backs it up.
    */
  def stage(spark: SparkSession, dir: String, url: String, nproc: Int, backup: File): Unit = {
    drop(url)
    val saved = new File(backup, url.split(":").last)
    if (saved.isDirectory) DriverManager.getConnection(s"$url;createFrom=$saved").close()
    else build(spark, dir, url, nproc, backup)
  }

  private def build(spark: SparkSession, dir: String, url: String, nproc: Int, backup: File): Unit = {
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      def exec(sql: String): Unit = { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
      val frames = tables.map { t =>
        val df = Tables.table(spark, dir, t.name)
        val cols = df.schema.fields.map { f =>
          val ty = f.dataType match {
            case IntegerType => "INTEGER"
            case LongType => "BIGINT"
            case DoubleType => "DOUBLE"
            case TimestampType | TimestampNTZType => "TIMESTAMP"
            case StringType => "VARCHAR(32672)"
            case other => sys.error(s"no Derby type for $other")
          }
          val key = t.pk.contains(f.name)
          val ident = if (key && t.identity) " GENERATED BY DEFAULT AS IDENTITY" else ""
          s"${f.name.toUpperCase} $ty${if (key) " NOT NULL" else ""}$ident"
        }
        exec(s"CREATE TABLE ${t.name.toUpperCase} (${cols.mkString(", ")})")
        t.name.toUpperCase -> df.select(df.columns.map(c => col(c).as(c.toUpperCase)).toSeq: _*)
      }
      Parallel.run(nproc, frames.map { case (name, df) => () =>
        df.write.mode(SaveMode.Append).option("batchsize", 3000).jdbc(url, name, new Properties())
      }).foreach(_.get)
      tables.filter(_.pk.nonEmpty).foreach { t =>
        exec(s"ALTER TABLE ${t.name} ADD CONSTRAINT PK_${t.name} PRIMARY KEY (${t.pk.mkString(", ")})")
      }
      foreignKeys.foreach { case (t, c, rt, rc) =>
        exec(s"ALTER TABLE $t ADD CONSTRAINT FK_${t}_$c FOREIGN KEY ($c) REFERENCES $rt ($rc)")
      }
      indexes.foreach { case (t, c) => exec(s"CREATE INDEX IX_${t}_$c ON $t ($c)") }
      // into a fresh directory first, so a killed run leaves no partial backup
      val tmp = new File(s"$backup.tmp-${ProcessHandle.current.pid}")
      exec(s"CALL SYSCS_UTIL.SYSCS_BACKUP_DATABASE('$tmp')")
      tmp.renameTo(backup)
    } finally conn.close()
  }

  /** Derby DDL for a table introspected from another Derby catalog. */
  def createTable(spec: TableSpec): String = {
    def ty(c: SqlColumn): String = c.typeName match {
      case "int" => "INTEGER"
      case "bigint" => "BIGINT"
      case "smallint" => "SMALLINT"
      case "float" => "DOUBLE"
      case "real" => "REAL"
      case "varchar" => s"VARCHAR(${if (c.maxLength < 0) 32672 else c.maxLength})"
      case "char" => s"CHAR(${c.maxLength})"
      case "datetime2" => "TIMESTAMP"
      case "date" => "DATE"
      case "bit" => "BOOLEAN"
      case "decimal" | "numeric" => s"DECIMAL(${c.precision}, ${c.scale})"
      case other => sys.error(s"no Derby type for $other")
    }
    val cols = spec.cols.map { c =>
      val ident = c.identity.fold("") { case (s, i) =>
        s" GENERATED BY DEFAULT AS IDENTITY (START WITH $s, INCREMENT BY $i)"
      }
      s""""${c.name}" ${ty(c)}${if (c.nullable) "" else " NOT NULL"}$ident"""
    }
    s"""CREATE TABLE "${spec.name}" (${cols.mkString(", ")})\nGO\n"""
  }

  /** Drops an in-memory database; a missing one is not an error. */
  def drop(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: SQLException => () }
}

object Parallel {
  /** Runs every thunk on a pool of `n` threads and waits for all of them,
    * failed or not, before returning their outcomes in order.
    */
  def run[A](n: Int, thunks: Seq[() => A]): Seq[scala.util.Try[A]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = thunks.map(f => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f() }))
      futures.map(f => scala.util.Try(f.get()).recover {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      })
    } finally pool.shutdown()
  }
}
