package graft.server

import org.scalatest.funsuite.AnyFunSuite

import graft.ServerMain
import graft.ServerMain.Config

/** CLI flag parity with the reference server (server.go:33-39): Go-style
  * `-name value` flags, `-name=value`, bools without values, unknown-flag
  * and missing-value errors, plus the legacy positional form.
  */
class ServerMainSpec extends AnyFunSuite {

  test("defaults mirror the reference: all interfaces, port 9099, parquet driver") {
    assert(ServerMain.parseArgs(Nil) == Right(Config()))
  }

  test("full flag form parses like Go's flag package") {
    val got = ServerMain.parseArgs(Seq(
      "-addr", "127.0.0.1", "-port", "9177", "-debug", "-persistent",
      "-storage", "parquet", "-storage-args", "/tmp/d"))
    assert(got == Right(Config(addr = "127.0.0.1", port = 9177, debug = true,
      persistent = true, storage = "parquet", dataDir = "/tmp/d")))
  }

  test("-name=value and --name forms are accepted") {
    val got = ServerMain.parseArgs(Seq("--port=9200", "-addr=::1", "-debug=true"))
    assert(got == Right(Config(addr = "::1", port = 9200, debug = true)))
  }

  test("-version short-circuits parsing into the version config") {
    assert(ServerMain.parseArgs(Seq("-version")).map(_.version) == Right(true))
    assert(ServerMain.Version.nonEmpty)
  }

  test("unknown flags, bad numbers, and missing values error like Go flag") {
    assert(ServerMain.parseArgs(Seq("-bogus")).isLeft)
    assert(ServerMain.parseArgs(Seq("-port", "abc")).isLeft)
    assert(ServerMain.parseArgs(Seq("-port")).isLeft)
    assert(ServerMain.parseArgs(Seq("-storage-args")).isLeft)
    // the server has one insert path; the old sharding flag is unknown
    assert(ServerMain.parseArgs(Seq("-ingest-shards", "4")) ==
      Left("flag provided but not defined: -ingest-shards"))
  }

  test("legacy positional form still works") {
    assert(ServerMain.parseArgs(Seq("9123", "/tmp/x")) ==
      Right(Config(port = 9123, dataDir = "/tmp/x")))
    assert(ServerMain.parseArgs(Seq("9123")) == Right(Config(port = 9123)))
    assert(ServerMain.parseArgs(Seq("nope")).isLeft)
    // [port] [dataDir] only: the old third (shard count) argument is an error
    assert(ServerMain.parseArgs(Seq("9123", "/tmp/x", "2")).isLeft)
  }

  test("bind-addr server: loopback bind accepts loopback connections") {
    val spark = graft.Sessions.builder("local[2]", 2)
      .appName("servermain-spec").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("graft-bindaddr").toString
    val eng = new graft.engine.Engine(spark, dir)
    val srv = new ProtocolServer(eng, 0, bindAddr = "127.0.0.1")
    val port = srv.start()
    try {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(60000)
        val out = sock.getOutputStream
        // command line first, the query on the NEXT line (the reference's
        // line-based mode dispatch)
        out.write("/validate\nbrand.name == \"x\"\n".getBytes("UTF-8")); out.flush()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        assert(in.readLine() == "OK")
      } finally sock.close()
    } finally { srv.stop(); eng.close() }
  }
}
