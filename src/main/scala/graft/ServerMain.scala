package graft

/** Standalone protocol server — the runnable a basenine Go client connects
  * to unchanged (reference: server/server.go:33-48; same default port 9099
  * and the same flag surface).
  *
  * Flag form (reference parity, server.go:33-39):
  *   `sbt "runMain graft.ServerMain -addr 127.0.0.1 -port 9099 -debug
  *        -storage parquet -storage-args <dataDir> -persistent"`
  *   - `-addr`      bind interface; default "" = all interfaces
  *   - `-port`      TCP port; default 9099
  *   - `-debug`     verbose logs (Spark INFO instead of WARN)
  *   - `-version`   print version and exit 0
  *   - `-persistent` accepted for wire parity; this engine's meta.json +
  *     Parquet log are ALWAYS durable (strictly stronger than the
  *     reference's opt-in core dump), so the flag is a no-op
  *   - `-storage`   storage driver name; `parquet` (this engine's native
  *     driver) is the only one shipped — unknown names abort, like the
  *     reference's `log.Panicf("Unknown storage driver")`
  *   - `-storage-args` driver argument: the log directory (default
  *     ./graft-data)
  *
  * Legacy positional form stays supported:
  *   `sbt "runMain graft.ServerMain [port] [dataDir]"`
  */
object ServerMain {

  val Version = "0.7.0"

  final case class Config(
      addr: String = "",
      port: Int = 9099,
      debug: Boolean = false,
      version: Boolean = false,
      persistent: Boolean = false,
      storage: String = "parquet",
      dataDir: String = "graft-data"
  )

  /** Go-flag-style parser (`-name value`, bools need no value; `-name=value`
    * accepted too). Positional legacy args when the first token has no dash.
    */
  def parseArgs(args: Seq[String]): Either[String, Config] = {
    if (args.isEmpty) return Right(Config())
    if (!args.head.startsWith("-")) {
      if (args.length > 2) return Left(s"too many positional args: ${args.mkString(" ")}")
      return try Right(Config(
        port = args.head.toInt,
        dataDir = args.lift(1).getOrElse("graft-data")
      )) catch { case e: NumberFormatException => Left(s"bad positional arg: ${e.getMessage}") }
    }
    var c = Config()
    var i = 0
    def want(flag: String): Either[String, String] =
      if (i + 1 < args.length) { i += 1; Right(args(i)) }
      else Left(s"flag needs an argument: $flag")
    while (i < args.length) {
      val raw = args(i)
      val (name, inline) = raw.indexOf('=') match {
        case -1 => (raw, None)
        case k  => (raw.take(k), Some(raw.drop(k + 1)))
      }
      def value(): Either[String, String] =
        inline.map(Right(_)).getOrElse(want(name))
      val res: Either[String, Config] = name match {
        case "-addr" | "--addr"       => value().map(v => c.copy(addr = v))
        case "-port" | "--port"       => value().flatMap(v =>
          v.toIntOption.toRight(s"invalid value \"$v\" for flag $name").map(p => c.copy(port = p)))
        case "-debug" | "--debug"     => Right(c.copy(debug = inline.forall(_ == "true")))
        case "-version" | "--version" => Right(c.copy(version = inline.forall(_ == "true")))
        case "-persistent" | "--persistent" => Right(c.copy(persistent = inline.forall(_ == "true")))
        case "-storage" | "--storage" => value().map(v => c.copy(storage = v))
        case "-storage-args" | "--storage-args" => value().map(v => c.copy(dataDir = v))
        case other => Left(s"flag provided but not defined: $other")
      }
      res match {
        case Left(e)   => return Left(e)
        case Right(c2) => c = c2
      }
      i += 1
    }
    Right(c)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toSeq) match {
      case Right(c) => c
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
    }
    if (cfg.version) {
      println(Version)
      sys.exit(0) // 0: process exited normally (server.go:48-52)
    }
    if (cfg.storage != "parquet" && cfg.storage != "native") {
      // "native" aliases the parquet engine (it IS this server's native
      // driver); anything else is the reference's unknown-driver panic
      System.err.println(s"Unknown storage driver: ${cfg.storage}")
      sys.exit(1)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions
      .builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-server")
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (cfg.debug) "INFO" else "WARN")
    val eng: graft.engine.Storage = new graft.engine.Engine(spark, cfg.dataDir)
    val srv = new graft.server.ProtocolServer(eng, cfg.port, bindAddr = cfg.addr)
    val bound = srv.start()
    println(s"graft $Version listening on ${cfg.addr}:$bound " +
      s"(data: ${cfg.dataDir}, storage: ${cfg.storage})")
    // the accept loop runs on a daemon thread; block the main thread like
    // the reference's server main
    Thread.currentThread().join()
  }
}
