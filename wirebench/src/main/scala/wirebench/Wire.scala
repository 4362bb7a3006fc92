package wirebench

import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** One raw protocol connection over loopback: newline-framed lines, read
  * with a socket timeout on the calling thread (no helper threads).
  */
final class Wire(port: Int, timeoutMs: Int = 60000) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
  sock.setSoTimeout(timeoutMs)
  private val out: OutputStream = sock.getOutputStream
  private val in = new BufferedReader(
    new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8), 1 << 16)

  /** Writes the lines as ONE socket write, so a burst reaches the server
    * together.
    */
  def send(lines: Seq[String]): Unit = {
    val sb = new java.lang.StringBuilder
    lines.foreach(l => sb.append(l).append('\n'))
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    out.flush()
  }

  /** Next line, or null at end of stream. */
  def readLine(): String = in.readLine()

  def close(): Unit = sock.close()
}

object Wire {
  val Metadata = "/metadata "
  val Quit = "%quit%"

  private val mapper = new ObjectMapper()

  def tree(json: String): JsonNode = mapper.readTree(json)

  /** The record the program should store for `d`: the sent document plus
    * the 24-digit id, and "[REDACTED]" at `redact` when given.
    */
  def expected(d: Doc, id: Long, redact: Option[String] = None): JsonNode = {
    val t = mapper.readTree(d.json).asInstanceOf[ObjectNode]
    t.put("id", f"$id%024d")
    redact.foreach { path =>
      val parts = path.split('.')
      var node = t
      parts.init.foreach(p => node = node.get(p).asInstanceOf[ObjectNode])
      node.put(parts.last, "[REDACTED]")
    }
    t
  }

  /** The 24-digit id of a returned record line as a number, or -1 when it is
    * absent or not 24 digits.
    */
  def idOf(t: JsonNode): Long = {
    val n = t.get("id")
    if (n == null || !n.isTextual || n.asText.length != 24 || !n.asText.forall(_.isDigit)) -1L
    else n.asText.toLong
  }
}
