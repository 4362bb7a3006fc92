package wirebench

import java.util.SplittableRandom

/** One generated traffic record, as a basenine traffic viewer would store
  * it. Every field is drawn from a seeded generator, so the same seed gives
  * the same documents. `due` is the open-loop send time (epoch ms) of a
  * live_tail document and -1 everywhere else.
  */
final case class Doc(
    seq: Long,
    proto: String,
    method: String,
    path: String,
    status: Int,
    bodySize: Int,
    srcIp: String,
    srcPort: Int,
    dst: String,
    dstPort: Int,
    elapsed: Int,
    note: String,
    due: Long = -1L
) {

  /** The wire form. Hand-written so that the benchmark's own model, not the
    * program's JSON layer, decides what was sent.
    */
  def json: String = {
    val sb = new java.lang.StringBuilder(512)
    sb.append("{\"seq\":").append(seq)
      .append(",\"timestamp\":").append(Gen.BaseTs + seq * 10)
      .append(",\"proto\":{\"name\":\"").append(proto).append("\"}")
      .append(",\"request\":{\"method\":\"").append(method)
      .append("\",\"path\":\"").append(path)
      .append("\",\"headers\":{\"host\":\"").append(dst).append(".svc\",\"user-agent\":\"wirebench/1\"}}")
      .append(",\"response\":{\"status\":").append(status)
      .append(",\"bodySize\":").append(bodySize).append("}")
      .append(",\"src\":{\"ip\":\"").append(srcIp).append("\",\"port\":").append(srcPort).append("}")
      .append(",\"dst\":{\"name\":\"").append(dst).append("\",\"port\":").append(dstPort).append("}")
      .append(",\"elapsedTime\":").append(elapsed)
      .append(",\"note\":\"").append(note).append("\"")
    if (due >= 0) sb.append(",\"due\":").append(due)
    sb.append('}').toString
  }
}

/** A BFL filter and the benchmark's own native model of it. */
final case class Filter(name: String, bfl: String, model: Doc => Boolean)

object Gen {

  val BaseTs = 1700000000000L

  // Selectivities follow from the draw weights below: rare ~8%, mid ~25%,
  // wide ~66% (http 70% x elapsedTime > 100 95%).
  val Rare = Filter("rare", "response.status == 500", _.status == 500)
  val Mid = Filter("mid", "request.method == \"POST\"", _.method == "POST")
  val Wide = Filter("wide", "proto.name == \"http\" and elapsedTime > 100",
    d => d.proto == "http" && d.elapsed > 100)
  val Filters: Seq[Filter] = Seq(Rare, Mid, Wide)

  /** The insertion filter the ingest workload installs; docs it drops never
    * get an id.
    */
  val HealthzFilter = "request.path != \"/healthz\""
  def keptByInsertFilter(d: Doc): Boolean = d.path != "/healthz"

  /** /single query that rewrites the record (interpreter tier). */
  val RedactPath = "src.ip"
  val RedactQuery = "redact(\"src.ip\")"

  private val Words = Array("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "oscar", "romeo", "sierra", "tango", "victor", "zulu")

  private def pick[T](r: SplittableRandom, xs: Seq[(T, Int)]): T = {
    var u = r.nextInt(xs.map(_._2).sum)
    xs.find { case (_, w) => u -= w; u < 0 }.get._1
  }

  /** Documents `from until from+n` of the stream for `seed`. Each document
    * depends only on (seed, seq), so any slice can be regenerated.
    */
  def docs(seed: Long, from: Long, n: Int, healthzShare: Int = 0): IndexedSeq[Doc] =
    (from until from + n).map(seq => doc(seed, seq, healthzShare))

  def doc(seed: Long, seq: Long, healthzShare: Int): Doc = {
    val r = new SplittableRandom(seed * 1000003L + seq)
    val svc = r.nextInt(12)
    val path =
      if (r.nextInt(100) < healthzShare) "/healthz"
      else s"/api/v1/svc$svc/${r.nextInt(100000)}"
    val note = (0 until 24).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
    Doc(
      seq = seq,
      proto = pick(r, Seq("http" -> 70, "grpc" -> 20, "amqp" -> 10)),
      method = pick(r, Seq("GET" -> 60, "POST" -> 25, "PUT" -> 10, "DELETE" -> 5)),
      path = path,
      status = pick(r, Seq(200 -> 80, 404 -> 12, 500 -> 8)),
      bodySize = r.nextInt(65536),
      srcIp = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",
      srcPort = 1024 + r.nextInt(60000),
      dst = s"svc$svc",
      dstPort = 8000 + svc,
      elapsed = 1 + r.nextInt(2000),
      note = note
    )
  }
}
