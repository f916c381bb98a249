package graft.fixtures

import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.model._

/** Deterministic synthetic transcript + rule-table generator (FIXTURES.md).
  *
  * Single seed, no wall-clock, no external data. Every pipeline stage is
  * exercisable: benign lines, IOC carriers, sig-rule matches, first-seen
  * values, frequency bursts, exact-duplicate lines (fingerprint-drop), and
  * grok-unparsable garbage. Expected outputs are computed by the RefModel
  * oracle over the same data — no hand-pinned goldens.
  */
object Gen {

  final case class FixtureData(
      turns: Seq[Turn],
      ioc: Seq[IocEntry],
      rules: Seq[SigRule],
      ref: Seq[RefEntry],
      whitelist: Seq[WhitelistRule],
      conf: PipelineConf)

  val BaseEpochSec: Long = 1767225600L // 2026-01-01T00:00:00Z

  def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  // ---- fixed pools (benign traffic draws from these; ref baseline covers them)
  private val benignActions = Vector("login", "read", "write", "upload")
  private val benignUsers   = (0 until 50).map(i => f"u$i%03d").toVector
  private val benignIps     = (for (a <- 0 until 10; b <- 1 to 20) yield s"10.0.$a.$b").toVector
  private val benignHosts   = (0 until 20).map(i => s"host$i.corp.example").toVector
  private val benignStatus  = Vector(200, 204, 301)
  private val benignHashes  = (0 until 30).map(i => md5(s"file-$i")).toVector
  private val benignUris    = (0 until 20).map(i => s"/api/v1/r$i").toVector
  private val roles         = Vector("user", "assistant", "tool")
  private val tools         = Vector("bash", "browser", "search", "mail")

  // ---- IOC table: 200 unique (kind, value) entries
  def iocTable: Seq[IocEntry] = {
    val ips     = (1 to 80).map(i => IocEntry("ip", s"203.0.113.$i", 30 + (i % 6) * 10))
    val domains = (0 until 60).map(i => IocEntry("domain", s"evil$i.example.net", 30 + (i % 6) * 10))
    val hashes  = (0 until 40).map(i => IocEntry("hash", md5(s"malware-$i"), 30 + (i % 6) * 10))
    val users   = (0 until 20).map(i => IocEntry("user", s"mal$i", 30 + (i % 6) * 10))
    ips ++ domains ++ hashes ++ users
  }

  // ---- sig rules: 30 rules; multi-clause rules share rule_id (AND semantics)
  def sigRules: Seq[SigRule] = {
    val core = Seq(
      SigRule(1, "exfil-action", "action", "eq", "exfil", 40),
      SigRule(2, "5xx-status", "status", "gt", "499", 10),
      SigRule(3, "exfil-5xx", "action", "eq", "exfil", 60),
      SigRule(3, "exfil-5xx", "status", "gt", "499", 0),
      SigRule(4, "secret-uri", "uri", "rx", "secret", 30),
      SigRule(5, "admin-user", "user", "in", "root,admin,administrator", 25),
      SigRule(6, "1xx-status", "status", "lt", "200", 15),
      SigRule(7, "debug-uri", "uri", "rx", "^/debug", 20),
      SigRule(8, "mail-tool-upload", "tool", "eq", "mail", 35),
      SigRule(8, "mail-tool-upload", "action", "eq", "upload", 0),
      SigRule(9, "dotted-exe", "uri", "rx", "\\.exe$", 45),
      SigRule(10, "etc-passwd", "uri", "rx", "/etc/passwd", 50)
    )
    val pad = (11 to 30).map(i =>
      SigRule(i, s"pad-action-$i", "action", "eq", s"padaction$i", 10 + (i % 4) * 5))
    core ++ pad
  }

  /** Known-good baseline: (role, field, value). Checked fields: action, dst_host. */
  def refBaseline: Seq[RefEntry] = {
    val allowedActions = Map(
      "user"      -> Seq("login", "read", "upload"),
      "assistant" -> Seq("read", "write"),
      "tool"      -> Seq("login", "read", "write", "upload"))
    val actions = for {
      (role, as) <- allowedActions.toSeq; a <- as
    } yield RefEntry(role, "action", a)
    val hosts = for (role <- roles; h <- benignHosts) yield RefEntry(role, "dst_host", h)
    // pad toward the FIXTURES.md size with extra plausible baseline hosts
    val pad = for (i <- 20 until 160) yield RefEntry("user", "dst_host", s"host$i.corp.example")
    actions ++ hosts ++ pad
  }

  def whitelistRules: Seq[WhitelistRule] = Seq(
    WhitelistRule("action", "eq", "ping"),
    WhitelistRule("action", "eq", "healthcheck"),
    WhitelistRule("role", "eq", "system"),
    WhitelistRule("user", "eq", "monitor"),
    WhitelistRule("action", "rx", "^noop"))

  def defaultConf: PipelineConf = PipelineConf()

  private def line(action: String, user: String, ip: String, host: String,
      status: Int, hash: String, uri: String): String =
    s"$action user=$user src=$ip dst=$host status=$status hash=$hash uri=$uri"

  /** Deterministic transcripts. `hotKey=true` routes 30% of all turns into one
    * conversation (skew mode, SURVEY §2.9 R1). */
  def transcripts(nConvs: Int, seed: Long = 42L, hotKey: Boolean = false): Seq[Turn] = {
    val rng = new Random(seed)
    val ioc = iocTable
    val iocIps = ioc.filter(_.kind == "ip").map(_.value)
    val iocDomains = ioc.filter(_.kind == "domain").map(_.value)
    val iocHashes = ioc.filter(_.kind == "hash").map(_.value)
    val iocUsers = ioc.filter(_.kind == "user").map(_.value)
    val out = scala.collection.mutable.ArrayBuffer.empty[Turn]

    def pick[T](v: Vector[T]): T = v(rng.nextInt(v.size))
    def pickS(v: Seq[String]): String = v(rng.nextInt(v.size))

    for (c <- 0 until nConvs) {
      val convId = f"conv-$c%06d"
      val baseTurns = 2 + rng.nextInt(14)
      val nTurns =
        if (hotKey && c == 0) math.max(baseTurns, (nConvs * 8 * 3) / 10) else baseTurns
      val step = 1 + rng.nextInt(120)
      val isBurst = rng.nextInt(20) == 0
      var tsSec = BaseEpochSec + c.toLong * 37L
      var prevText: String = null
      var ti = 0

      def emit(role: String, tool: String, text: String): Unit = {
        out += Turn(convId, ti, role, text, tool, new Timestamp(tsSec * 1000L))
        prevText = text
        ti += 1
      }
      def rollRole(): String = {
        if (rng.nextInt(10) < 8) roles(ti % 3) else roles(rng.nextInt(3))
      }
      def rollTool(role: String): String =
        if (role == "tool") pick(tools) else ""

      for (_ <- 0 until nTurns) {
        val role = rollRole()
        val tool = rollTool(role)
        val roll = rng.nextInt(100)
        val text: String =
          if (roll < 70) { // benign
            line(pick(benignActions), pick(benignUsers), pick(benignIps),
              pick(benignHosts), pick(benignStatus), pick(benignHashes), pick(benignUris))
          } else if (roll < 75) { // IOC carrier
            val which = rng.nextInt(4)
            val (u, ip, h, ha) = which match {
              case 0 => (pick(benignUsers), pickS(iocIps), pick(benignHosts), pick(benignHashes))
              case 1 => (pick(benignUsers), pick(benignIps), pickS(iocDomains), pick(benignHashes))
              case 2 => (pick(benignUsers), pick(benignIps), pick(benignHosts), pickS(iocHashes))
              case _ => (pickS(iocUsers), pick(benignIps), pick(benignHosts), pick(benignHashes))
            }
            line(pick(benignActions), u, ip, h, pick(benignStatus), ha, pick(benignUris))
          } else if (roll < 80) { // sig-rule trigger
            rng.nextInt(4) match {
              case 0 => line("exfil", pick(benignUsers), pick(benignIps), pick(benignHosts),
                if (rng.nextBoolean()) 503 else 200, pick(benignHashes), pick(benignUris))
              case 1 => line(pick(benignActions), "admin", pick(benignIps), pick(benignHosts),
                pick(benignStatus), pick(benignHashes), pick(benignUris))
              case 2 => line(pick(benignActions), pick(benignUsers), pick(benignIps),
                pick(benignHosts), pick(benignStatus), pick(benignHashes), "/api/secret/keys")
              case _ => line(pick(benignActions), pick(benignUsers), pick(benignIps),
                pick(benignHosts), pick(benignStatus), pick(benignHashes), "/debug/trace")
            }
          } else if (roll < 82) { // whitelisted (C2 stop-rule carriers)
            if (rng.nextBoolean())
              line("ping", "monitor", pick(benignIps), pick(benignHosts),
                pick(benignStatus), pick(benignHashes), pick(benignUris))
            else
              line("noopsync", pick(benignUsers), pick(benignIps), pick(benignHosts),
                pick(benignStatus), pick(benignHashes), pick(benignUris))
          } else if (roll < 85) { // first-seen value
            if (rng.nextBoolean())
              line(pick(benignActions), s"newu-$c-$ti", pick(benignIps), pick(benignHosts),
                pick(benignStatus), pick(benignHashes), pick(benignUris))
            else
              line(pick(benignActions), pick(benignUsers), pick(benignIps),
                s"newhost-$c-$ti.example", pick(benignStatus), pick(benignHashes),
                pick(benignUris))
          } else if (roll < 90 && prevText != null) { // exact duplicate (fp-drop)
            prevText
          } else { // garbage — must NOT contain " user=" so grok misses
            val words = Vector("zz", "qx", "blort", "??", "##", "frob", "wib")
            (0 until (3 + rng.nextInt(5))).map(_ => pick(words)).mkString(" ")
          }
        emit(role, tool, text)
        tsSec += step
      }

      if (isBurst) { // frequency burst: >= threshold lines inside freqWindow
        val burstText = line("login", pick(benignUsers), pick(benignIps),
          pick(benignHosts), 200, pick(benignHashes), pick(benignUris))
        for (b <- 0 until 7) {
          val role = rollRole()
          // 3 of the 7 are exact duplicates (fp-drop inside dedup bucket)
          val t = if (b % 3 == 0) burstText
            else line("read", pick(benignUsers), pick(benignIps), pick(benignHosts),
              200, pick(benignHashes), pick(benignUris))
          emit(role, rollTool(role), t)
          tsSec += 1
        }
      }
    }
    out.toSeq
  }

  /** Write the four constant rule tables under `dir` as single-file parquet:
    * the write side of `Source.readRuleTables`. */
  def writeRuleTables(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    write(iocTable.toDF(), "ioc")
    write(sigRules.toDF(), "sig_rules")
    write(refBaseline.toDF(), "ref_baseline")
    write(whitelistRules.toDF(), "whitelist")
  }

  def fixture(nConvs: Int, seed: Long = 42L, hotKey: Boolean = false): FixtureData =
    FixtureData(transcripts(nConvs, seed, hotKey), iocTable, sigRules, refBaseline,
      whitelistRules, defaultConf)

  /** Bench-scale generation in chunks (driver-memory-bounded): chunk c uses
    * seed+c and conversation ids offset by c*convsPerChunk — deterministic
    * for a fixed (seed, chunking). */
  def transcriptsChunk(chunk: Int, convsPerChunk: Int, seed: Long = 42L): Seq[Turn] = {
    val base = transcripts(convsPerChunk, seed + chunk)
    if (chunk == 0) base
    else base.map { t =>
      val cNum = t.conv_id.stripPrefix("conv-").toInt + chunk * convsPerChunk
      t.copy(conv_id = f"conv-$cNum%06d",
        ts = new Timestamp(t.ts.getTime + chunk.toLong * convsPerChunk * 37000L))
    }
  }
}
