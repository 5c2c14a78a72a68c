package flarebench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.{Failure, Success}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.Donki
import graft.operators.SnapshotStore
import graft.sources.HttpJson

/** The paper's daily flow, repeated over generated days: fetch the day's
  * DONKI FLR body over HTTP, parse and project it, dedup-append it into a
  * snapshot table, read the day's keys back, consume the change feed, and
  * compact on a fixed cadence.
  *
  * The generator is also the model: it knows every record it emitted, so
  * the expected table, each change-feed window and the version count come
  * from plain Scala, never from the program under test. */
object FlareDaily {

  /** Round shape. Each day's body holds every flare of the trailing
    * `Window` days, so most records come back again on later days. A round
    * is short so that a run measures several and reports their median. */
  val Days = 2
  val FlaresPerDay = 500
  val Window = 2
  val CompactEvery = 2

  final case class Flr(
      flrId: String, classType: String, beginTime: String, peakTime: String,
      endTime: Option[String], sourceLocation: Option[String],
      activeRegionNum: Option[Int], link: String, note: String,
      submissionTime: String, versionId: Int, instrument: String,
      linkedEvent: Option[String])

  /** One row of the table, as `Donki.project` types it. */
  final case class Projected(
      flrId: String, classType: String, beginTime: Option[LocalDateTime],
      peakTime: Option[LocalDateTime], endTime: Option[LocalDateTime],
      sourceLocation: Option[String], activeRegionNum: Option[Int], link: String)

  private val minuteFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm'Z'")
  private val secondFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val malformed = Seq("unknown", "2025-13-01T10:00Z", "2025-05-25 08:24", "")

  /** Strings a malformed-timestamp record carries cast to null; every other
    * string is minute-precision DONKI form. */
  private def parsed(s: String): Option[LocalDateTime] =
    if (malformed.contains(s)) None else Some(LocalDateTime.parse(s, minuteFmt))

  /** One flare event with its delivery behaviour. `copies` are the records
    * a body carries for it: a second copy is an in-batch duplicate key with
    * another class and link. A revising flare's link changes on later
    * deliveries; the table keeps the first delivered survivor. */
  final case class Flare(day: Int, copies: Seq[Flr], revises: Boolean) {
    def deliveredOn(d: Int): Seq[Flr] =
      if (!revises || d == day) copies
      else copies.map(f => f.copy(link = f.link + s"?rev=${d - day}"))
  }

  final class Inputs(val seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val start = LocalDate.of(2025, 1, 1).plusDays(math.floorMod(seed, 300L))

    private def ts(base: LocalDateTime): String =
      if (rnd.nextInt(100) < 3) malformed(rnd.nextInt(malformed.size))
      else base.format(minuteFmt)

    private def classType(): String =
      s"${"ABCMX"(rnd.nextInt(5))}${1 + rnd.nextInt(9)}.${rnd.nextInt(10)}"

    val flares: IndexedSeq[Flare] = (0 until Days).flatMap { day =>
      val date = start.plusDays(day.toLong)
      (1 to FlaresPerDay).map { i =>
        val begin = date.atStartOfDay().plusMinutes(rnd.nextInt(24 * 60).toLong)
        val peak = begin.plusMinutes(1L + rnd.nextInt(30))
        val id = s"${begin.format(secondFmt)}-FLR-${"%03d".format(i)}"
        val n = day * FlaresPerDay + i
        val f = Flr(
          flrId = id, classType = classType(), beginTime = ts(begin),
          peakTime = ts(peak),
          endTime = if (rnd.nextInt(100) < 15) None else Some(ts(peak.plusMinutes(1L + rnd.nextInt(60)))),
          sourceLocation = if (rnd.nextInt(100) < 10) None
            else Some(f"${if (rnd.nextBoolean()) "N" else "S"}${rnd.nextInt(90)}%02d${if (rnd.nextBoolean()) "E" else "W"}${rnd.nextInt(90)}%02d"),
          activeRegionNum = if (rnd.nextInt(100) < 30) None else Some(13000 + rnd.nextInt(1000)),
          link = s"https://kauai.ccmc.gsfc.nasa.gov/DONKI/view/FLR/$n/1",
          note = s"generated flare $n; ${"x" * rnd.nextInt(80)}",
          submissionTime = peak.plusHours(2).format(minuteFmt),
          versionId = 1 + rnd.nextInt(3),
          instrument = s"GOES-P: EXIS ${rnd.nextInt(4)}.0-8.0",
          linkedEvent = if (rnd.nextInt(100) < 40) None else Some(s"${date}T00:00:00-CME-${"%03d".format(i)}"))
        val dup = rnd.nextInt(100) < 5
        val copies =
          if (!dup) Seq(f)
          else Seq(f, f.copy(classType = classType(), link = f.link.replace("/1", "/0")))
        Flare(day, copies, revises = rnd.nextInt(100) < 20)
      }
    }

    /** Records of each day's body: every flare of the trailing window, in
      * a seeded order. */
    val bodies: IndexedSeq[Seq[Flr]] = (0 until Days).map { d =>
      val r = new scala.util.Random(seed * 31 + d)
      r.shuffle(flares.filter(f => f.day > d - Window && f.day <= d).flatMap(_.deliveredOn(d)))
    }

    /** Each day's distinct keys, and their lowest and highest. */
    val dayKeys: IndexedSeq[Set[String]] = bodies.map(_.map(_.flrId).toSet)
    val keyRange: IndexedSeq[(String, String)] = dayKeys.map(ks => (ks.min, ks.max))

    def json(d: Int): Array[Byte] = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def opt(s: Option[String]) = s.map(q).getOrElse("null")
      bodies(d).map { f =>
        s"""{"flrID":${q(f.flrId)},"instruments":[{"displayName":${q(f.instrument)}}],""" +
          s""""beginTime":${q(f.beginTime)},"peakTime":${q(f.peakTime)},"endTime":${opt(f.endTime)},""" +
          s""""classType":${q(f.classType)},"sourceLocation":${opt(f.sourceLocation)},""" +
          s""""activeRegionNum":${f.activeRegionNum.map(_.toString).getOrElse("null")},""" +
          s""""note":${q(f.note)},"submissionTime":${q(f.submissionTime)},"versionId":${f.versionId},""" +
          s""""linkedEvents":${f.linkedEvent.map(e => s"""[{"activityID":${q(e)}}]""").getOrElse("null")},""" +
          s""""link":${q(f.link)}}"""
      }.mkString("[", ",\n", "]").getBytes(UTF_8)
    }

    /** Per day, the rows first delivered that day: the in-batch survivor
      * of each new key, lowest (class, link) first, as the table's
      * tie-break orders them. */
    val firstDelivered: IndexedSeq[Seq[Projected]] = {
      val seen = mutable.Set.empty[String]
      (0 until Days).map { d =>
        val fresh = bodies(d).groupBy(_.flrId).toSeq
          .filterNot { case (k, _) => seen.contains(k) }
          .map { case (_, fs) => fs.minBy(f => (f.classType, f.link)) }
          .map(f => Projected(f.flrId, f.classType, parsed(f.beginTime), parsed(f.peakTime),
            f.endTime.flatMap(parsed), f.sourceLocation, f.activeRegionNum, f.link))
        seen ++= fresh.map(_.flrId)
        fresh
      }
    }

    def compactsAfter(d: Int): Boolean = (d + 1) % CompactEvery == 0

    /** Committed versions after a round: the empty create, one append per
      * day (each day brings new keys), and each compaction. */
    val versions: Int = 1 + Days + (0 until Days).count(compactsAfter)
  }

  def projected(r: Row): Projected = {
    def ts(i: Int) = Option(r.getAs[LocalDateTime](i))
    Projected(r.getString(0), r.getString(1), ts(2), ts(3), ts(4),
      Option(r.getString(5)), if (r.isNullAt(6)) None else Some(r.getInt(6)), r.getString(7))
  }

  /** Serves each day's body from memory on the loopback interface. */
  final class Server(in: Inputs) {
    private val bodies = (0 until Days).map(in.json)
    private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/FLR", ex => {
      val d = ex.getRequestURI.getQuery.stripPrefix("day=").toInt
      val b = bodies(d)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    http.start()
    def url(d: Int) = s"http://127.0.0.1:${http.getAddress.getPort}/FLR?day=$d"
    def stop(): Unit = http.stop(0)
  }

  /** One round: a fresh table at `path`, every day's cycle. Returns the
    * number of day cycles that threw (the rest of the round counts as
    * failed once one throws, since later days build on it). */
  def round(spark: SparkSession, in: Inputs, server: Server, path: String,
            tr: Tracer, check: Check): Int = {
    var lastV = 0L
    var d = 0
    try {
      while (d < Days) {
        val body = tr.span("ingest.fetch") {
          HttpJson.fetchWithRetry(() => HttpJson.fetchUrl(server.url(d))) match {
            case Success(b) => b
            case Failure(e) => throw e
          }
        }
        val batch = tr.span("ingest.parse") {
          Donki.project(Donki.readJson(spark, Seq(body))).localCheckpoint(eager = true)
        }
        tr.count("ingest.rows_offered", in.bodies(d).size.toLong)
        // the first day creates the table empty (version 1), so that its
        // batch is deduplicated like every later one
        val v = tr.span("store.commit") {
          if (d == 0) lastV = SnapshotStore.create(spark, batch.limit(0), path,
            statsColumns = Seq("flr_id"))
          SnapshotStore.appendDedup(spark, batch, path,
            keys = Seq("flr_id"), tieBreak = Seq("class_type", "link"))
        }
        batch.unpersist(blocking = false)
        val want = in.firstDelivered(d)
        tr.count("ingest.rows_committed", want.size.toLong)
        // the day's keys are visible: a flr_id range read over the table
        val (lo, hi) = in.keyRange(d)
        val visible = tr.span("store.read") {
          val df = SnapshotStore.readRelation(spark, path)
            .filter(col("flr_id").between(lo, hi)).select("flr_id")
          val keys = df.collect().map(_.getString(0)).toSet
          tr.scanFiles(df)
          keys
        }
        check(s"day $d: keys of its body visible", visible == in.dayKeys(d))
        // the consumer follows the change feed from the last version it
        // consumed, starting at the empty first version
        val changes = tr.span("store.cdc") {
          SnapshotStore.changesBetween(spark, path, lastV, v).collect()
        }
        check(s"day $d: change feed holds the first-delivered rows as inserts",
          changes.forall(_.getAs[String]("change_type") == "insert") &&
            changes.map(projected).toSet == want.toSet && changes.length == want.size)
        lastV = v
        if (in.compactsAfter(d)) {
          val cv = tr.span("store.compact") {
            SnapshotStore.compact(spark, path, 4L << 20, clusterBy = Seq("flr_id"))
          }
          val delta = tr.span("store.cdc") {
            SnapshotStore.changesBetween(spark, path, lastV, cv).collect()
          }
          check(s"day $d: compaction leaves an empty change feed", delta.isEmpty)
          lastV = cv
        }
        d += 1
      }
      tr.count("store.versions", lastV) // versions are numbered 1, 2, ...
      0
    } catch {
      case e: Exception =>
        System.err.println(s"[flarebench] flare_daily day $d threw: $e")
        Days - d
    }
  }

  /** After a round, untimed: the whole table against the model, and the
    * version count. */
  def verify(spark: SparkSession, in: Inputs, path: String, check: Check): Unit = {
    val table = SnapshotStore.read(spark, path)
      .select("flr_id", "class_type", "begin_time", "peak_time", "end_time",
        "source_location", "active_region_num", "link")
      .collect().map(projected)
    val model = in.firstDelivered.flatten
    check("table equals the model's first-delivered survivors",
      table.length == model.size && table.toSet == model.toSet)
    val nv = SnapshotStore.versions(spark, path).size
    check(s"version count $nv equals the model's ${in.versions}", nv == in.versions)
  }
}
