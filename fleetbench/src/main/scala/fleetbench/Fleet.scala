package fleetbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.etl.MsdbSources

/** Shape of a generated fleet. All times are simulated epoch millis.
  *
  * @param servers       source SQL Servers, each with its own msdb
  * @param dbsPerServer  user databases per server
  * @param intervalMin   ETL interval; every FULL-recovery database takes a
  *                      log backup once per interval
  * @param historyDays   days of backup history before the starting clock
  * @param futureDays    schedule generated past the starting clock, for
  *                      the cycles a run advances through
  * @param clockMin      the starting clock, in minutes after the midnight
  *                      that ends the history days
  */
final case class Shape(
    servers: Int,
    dbsPerServer: Int,
    intervalMin: Int,
    historyDays: Int,
    futureDays: Int,
    clockMin: Int = 0)

/** One file of a database, as `msdb.dbo.backupfile` records it. */
final case class DbFile(logical: String, physical: String, fileType: String,
    fileNumber: Int, state: Int)

/** One generated database and the facts its schedule is drawn from. */
final case class Db(
    server: String,
    name: String,
    id: Int,
    ag: Option[String],
    serverRecorded: Boolean,
    recovery: String,
    deviceType: Int,
    encrypted: Boolean,
    sizeMb: Int,
    files: Vector[DbFile])

/** One backup set: a row of `backupset` plus its media-family stripes. */
final case class Bk(
    setId: Long,
    db: Db,
    typ: String,
    startMs: Long,
    finishMs: Long,
    firstLsn: Long,
    lastLsn: Long,
    copyOnly: Boolean,
    devices: Vector[String],
    sizeMb: Int) {
  def backupType: String = typ match {
    case "D" => "Full"
    case "I" => "Diff"
    case _ => "Log"
  }
  def serverName: Option[String] =
    if (db.serverRecorded) Some(db.server) else None
}

/** A seeded fleet: databases and their whole backup schedule from
  * `startMs` (history start) to the end of the future window. The
  * schedule is plain Scala so the output checks can recompute every
  * expected result without the program.
  */
final case class Fleet(shape: Shape, startMs: Long, clockMs: Long,
    dbs: Vector[Db], backups: Vector[Bk]) {

  val servers: Vector[String] = dbs.map(_.server).distinct

  def visible(nowMs: Long): Vector[Bk] = backups.filter(_.finishMs <= nowMs)
}

object Fleet {
  val DayMs: Long = 86400000L
  val MinMs: Long = 60000L

  /** Simulated "now" at the end of the history window. */
  val Clock: Long = Timestamp.valueOf("2026-06-01 00:00:00").getTime

  private val DbNames = Vector("Sales", "Orders", "Billing", "Crm", "Hr",
    "Audit", "Events", "Ledger", "Search", "Catalog")

  /** LSN of a database at a time: strictly increasing in time, distinct
    * per second, shared by every backup type so full/diff/log chains line
    * up the way msdb's do.
    */
  def lsnAt(tMs: Long): Long = (tMs / 1000L) * 1000L + 17L

  def generate(shape: Shape, seed: Long): Fleet = {
    val rnd = new scala.util.Random(seed)
    val start = Clock - shape.historyDays * DayMs
    val end = Clock + shape.futureDays * DayMs
    val interval = shape.intervalMin * MinMs
    var nextSet = 1L

    val dbs = for {
      s <- 0 until shape.servers
      d <- 0 until shape.dbsPerServer
    } yield {
      val server = f"SQL$s%02d"
      val name = s"${DbNames((s + d) % DbNames.size)}_${s}_$d"
      // structure fixes that every fleet has a plain database, an AG
      // database recorded under its server, and (on every other server)
      // an AG database whose history carries no server name, so that only
      // its AG key finds it — the server→AG fallback's input
      val inAg = d % 3 != 0
      val recorded = !(d % 3 == 2 && s % 2 == 0)
      val nFiles = 2 + rnd.nextInt(3)
      val files = (1 to nFiles).toVector.map { k =>
        val isLog = k == 2
        val dir = if (isLog) "L:\\SQLLogs\\" else "D:\\SQLData\\"
        val ext = if (isLog) "ldf" else if (k == 1) "mdf" else "ndf"
        DbFile(s"${name}_f$k", s"$dir${name}_$k.$ext",
          if (isLog) "L" else "D", k, if (k == 4) 8 else 0)
      }
      // device kinds alternate by position, so every seed's fleet splits
      // disk and URL backups the same way
      Db(server, name, d + 5, if (inAg) Some(f"AG$s%02d") else None,
        recorded, if (d % 5 == 4) "SIMPLE" else "FULL",
        if ((s + d) % 2 == 0) 9 else 2, rnd.nextInt(4) == 0,
        500 + rnd.nextInt(20000), files)
    }

    def devices(db: Db, typ: String, setId: Long, n: Int): Vector[String] =
      (1 to n).toVector.map { k =>
        val f = s"${db.name}_${typ}_${setId}_$k.bak"
        if (db.deviceType == 9)
          s"https://backups.blob.core.windows.net/${db.server.toLowerCase}/$f"
        else s"\\\\bk01\\${db.server}\\${db.name}\\$f"
      }

    val backups = Vector.newBuilder[Bk]
    dbs.foreach { db =>
      val r = new scala.util.Random(rnd.nextLong())
      val fullDay = r.nextInt(7)
      val hour = 1 + r.nextInt(5)
      val logOffset = r.nextInt(math.max(1, shape.intervalMin * 30)) * 1000L
      val sets = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Boolean, Int)]
      var day = 0
      while (start + day * DayMs < end) {
        val dayMs = start + day * DayMs
        val at = dayMs + hour * 3600000L + r.nextInt(1800) * 1000L
        // the first day always takes a full so every request has a base
        if (day == 0 || day % 7 == fullDay) {
          val dur = (3 + r.nextInt(18)) * MinMs
          sets += (("D", at, at + dur, false, 1 + r.nextInt(4)))
        } else {
          val dur = (1 + r.nextInt(5)) * MinMs
          sets += (("I", at, at + dur, false, 1 + r.nextInt(2)))
        }
        // an ad hoc copy-only full some days, hours after the schedule;
        // it ends before 19:00, so the evening holds log backups only
        if (day > 0 && r.nextInt(6) == 0) {
          val t = at + (6 + r.nextInt(8)) * 3600000L
          sets += (("D", t, t + (3 + r.nextInt(10)) * MinMs, true, 1 + r.nextInt(4)))
        }
        day += 1
      }
      if (db.recovery == "FULL") {
        var t = start + logOffset
        while (t < end) {
          // one stripe per log backup: a striped overlap log is listed
          // with one of its stripes only (see the README)
          sets += (("L", t, t + (5 + r.nextInt(40)) * 1000L, false, 1))
          t += interval
        }
      }
      var prevLog = lsnAt(start)
      sets.sortBy(s => (s._2, s._1)).foreach { case (typ, st, fin, co, stripes) =>
        val id = nextSet
        nextSet += 1
        val (first, last) = typ match {
          case "L" =>
            val l = lsnAt(st)
            val f = prevLog
            prevLog = l
            (f, l)
          case _ => (lsnAt(st) - 500L, lsnAt(fin))
        }
        val size = typ match {
          case "D" => db.sizeMb
          case "I" => 1 + db.sizeMb / 10
          case _ => 1 + r.nextInt(64)
        }
        backups += Bk(id, db, typ, st, fin, first, last, co,
          devices(db, typ, id, stripes), size)
      }
    }
    Fleet(shape, start, Clock + shape.clockMin * MinMs, dbs.toVector, backups.result())
  }

  // ---- msdb-shaped source relations ----------------------------------

  private val backupsetSchema = StructType(Seq(
    StructField("backup_set_id", LongType, nullable = false),
    StructField("media_set_id", LongType, nullable = false),
    StructField("database_name", StringType),
    StructField("type", StringType),
    StructField("backup_start_date", TimestampType),
    StructField("backup_finish_date", TimestampType),
    StructField("server_name", StringType),
    StructField("recovery_model", StringType),
    StructField("first_lsn", DecimalType(25, 0)),
    StructField("last_lsn", DecimalType(25, 0)),
    StructField("backup_size", LongType),
    StructField("compressed_backup_size", LongType),
    StructField("is_copy_only", BooleanType),
    StructField("encryptor_type", StringType),
    StructField("key_algorithm", StringType),
    StructField("position", IntegerType)))

  private val mediaSchema = StructType(Seq(
    StructField("media_set_id", LongType, nullable = false),
    StructField("physical_device_name", StringType),
    StructField("device_type", IntegerType)))

  private val fileSchema = StructType(Seq(
    StructField("backup_set_id", LongType, nullable = false),
    StructField("logical_name", StringType),
    StructField("physical_drive", StringType),
    StructField("physical_name", StringType),
    StructField("file_type", StringType),
    StructField("file_number", IntegerType),
    StructField("state", IntegerType)))

  private val dbSchema = StructType(Seq(
    StructField("name", StringType), StructField("database_id", IntegerType)))

  private val replicaSchema = StructType(Seq(
    StructField("database_id", IntegerType),
    StructField("is_local", IntegerType),
    StructField("group_id", IntegerType)))

  private val agSchema = StructType(Seq(
    StructField("group_id", IntegerType), StructField("ag_name", StringType)))

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType)
      : DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }

  /** One server's msdb over the whole schedule, as driver-local
    * relations standing in for the remote instance. [[at]] shows what
    * msdb held at a simulated time: backups finished by then.
    */
  final case class ServerMsdb(server: String, full: MsdbSources) {
    def at(nowMs: Long): MsdbSources = full.copy(backupset =
      full.backupset.filter(col("backup_finish_date") <= lit(new Timestamp(nowMs))))
  }

  def msdb(spark: SparkSession, fleet: Fleet): Vector[ServerMsdb] =
    fleet.servers.map { srv =>
      val dbs = fleet.dbs.filter(_.server == srv)
      val bks = fleet.backups.filter(_.db.server == srv)
      val bs = bks.map { b =>
        Row(b.setId, b.setId, b.db.name, b.typ, new Timestamp(b.startMs),
          new Timestamp(b.finishMs), b.serverName.orNull, b.db.recovery,
          new java.math.BigDecimal(b.firstLsn), new java.math.BigDecimal(b.lastLsn),
          b.sizeMb.toLong * 1048576L, b.sizeMb.toLong * 524288L,
          b.copyOnly, if (b.db.encrypted) "CERTIFICATE" else null,
          if (b.db.encrypted) "aes_256" else null, 1)
      }
      val mf = bks.flatMap(b => b.devices.map(d => Row(b.setId, d, b.db.deviceType)))
      val bf = bks.flatMap(b => b.db.files.map(f => Row(b.setId, f.logical,
        f.physical.take(2), f.physical, f.fileType, f.fileNumber, f.state)))
      val dbRows = dbs.map(d => Row(d.name, d.id))
      val agIds = dbs.flatMap(_.ag).distinct.zipWithIndex.toMap
      val reps = dbs.flatMap(d => d.ag.map(a => Row(d.id, 1, agIds(a) + 1)))
      val ags = agIds.toSeq.map { case (a, i) => Row(i + 1, a) }
      ServerMsdb(srv, MsdbSources(
        backupset = frame(spark, bs, backupsetSchema),
        backupmediafamily = frame(spark, mf, mediaSchema),
        backupfile = frame(spark, bf, fileSchema),
        databases = frame(spark, dbRows, dbSchema),
        replicaStates = frame(spark, reps, replicaSchema),
        availabilityGroups = frame(spark, ags, agSchema)))
    }
}
