package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI analog of the reference's `mdp` commands (cli/main.py): stages,
  * inspect, run, version — driven by spark-submit/runMain.
  *
  *   runMain graft.Cli stages
  *   runMain graft.Cli inspect <path> [maxPackets] [apid]
  *   runMain graft.Cli run --extractor binary --extractor-config e.json \
  *     [--transformer decom --transformer-config d.json ...] \
  *     --loader parquet --loader-config l.json [--dry-run]
  */
object Cli {

  /** The one local session every main builds: `local[SPARK_GRAFT_CPUS]`
    * (default 4, BASELINE.md), as many shuffle partitions as cores, UTC.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Global options preceding the command, like the reference's
    * `mdp --log-level DEBUG --log-format json CMD` (cli/main.py:30-48).
    * Logging is only reconfigured when a flag is present — a bare
    * command keeps Spark's stock log4j2 setup.
    */
  case class GlobalOpts(
      logLevel: String = "INFO", logFormat: String = "console",
      logCaller: Boolean = false, configured: Boolean = false)

  private[graft] def parseGlobalArgs(
      args: List[String]): (GlobalOpts, List[String]) = {
    def go(rest: List[String], acc: GlobalOpts): (GlobalOpts, List[String]) =
      rest match {
        case "--log-level" :: v :: t =>
          go(t, acc.copy(logLevel = v, configured = true))
        case "--log-format" :: v :: t =>
          go(t, acc.copy(logFormat = v, configured = true))
        case "--log-caller" :: t =>
          go(t, acc.copy(logCaller = true, configured = true))
        case _ => (acc, rest)
      }
    go(args, GlobalOpts())
  }

  def main(args: Array[String]): Unit = {
    val (globals, rest) = parseGlobalArgs(args.toList)
    if (globals.configured)
      observability.Logging.configure(
        globals.logLevel, globals.logFormat, globals.logCaller)
    dispatch(rest)
  }

  private def dispatch(args: List[String]): Unit = args match {
    case "version" :: Nil =>
      println("mission-data-pipeline-spark 0.1.0")

    case "stages" :: Nil =>
      Registry.allStages.foreach { case (kind, names) =>
        println(s"$kind: ${names.mkString(", ")}")
      }

    case "inspect" :: path :: rest =>
      val maxPackets = rest.headOption.map(_.toInt).getOrElse(50)
      val apid = rest.drop(1).headOption.map(_.toInt)
      val spark = session()
      inspect(spark, path, maxPackets, apid).show(maxPackets, truncate = false)
      spark.stop()

    case "run" :: rest =>
      val opts = parseRunArgs(rest)
      val spark = session()
      val extract = Registry.getExtractor(opts.extractor.getOrElse(
        sys.error("--extractor is required")))
      val transforms = opts.transformers.map { case (name, cfg) =>
        name -> Registry.getTransformer(name)(Registry.parseConfig(cfg))
      }
      val result = Pipeline.run(
        spark,
        extract = s => extract(s, Registry.parseConfig(opts.extractorConfig.getOrElse(""))),
        transforms = transforms,
        load = df => opts.loader match {
          case Some(l) =>
            // the loader's write is the pipeline's ONE action; the
            // negative sentinel tells Pipeline.run to take the row
            // count from the last stage's observe that rode that action
            // (the old df.count() here was a second full-pipeline job)
            Registry.getLoader(l)(df, Registry.parseConfig(opts.loaderConfig.getOrElse("")))
            -1L
          case _ => df.count()
        },
        dryRun = opts.dryRun) // dry run: explain only, loader skipped
      println(result.summary)
      spark.stop()
      if (!result.ok) sys.exit(1)

    case other =>
      System.err.println(s"Unknown command: ${other.mkString(" ")}")
      System.err.println("Commands: version | stages | inspect | run")
      sys.exit(2)
  }

  /** The `inspect` table: packets read through the `binary` extractor
    * (the `ccsds` source, APID filter pushed into the walk), as `run` reads
    * them. `path` is a file, directory or glob.
    */
  private[graft] def inspect(
      spark: SparkSession, path: String, maxPackets: Int, apid: Option[Int]): DataFrame = {
    import org.json4s._
    val config = JObject(("path" -> JString(path)) ::
      apid.map(a => "apid_filter" -> JArray(List(JInt(a)))).toList)
    operators.Telemetry.inspect(Registry.getExtractor("binary")(spark, config), maxPackets)
  }

  case class RunOpts(
      extractor: Option[String] = None, extractorConfig: Option[String] = None,
      transformers: Seq[(String, String)] = Nil,
      loader: Option[String] = None, loaderConfig: Option[String] = None,
      dryRun: Boolean = false)

  private def readMaybeFile(v: String): String =
    if (v.trim.startsWith("{")) v
    else new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(v)), "UTF-8")

  /** Each flag may be given once, except that every `--transformer`
    * takes its own `--transformer-config`.
    */
  private[graft] def parseRunArgs(args: List[String]): RunOpts = {
    def go(rest: List[String], acc: RunOpts, seen: Set[String]): RunOpts = {
      def next(t: List[String], updated: RunOpts) = go(t, updated, seen + rest.head)
      rest match {
        case flag :: _ if seen(flag) => sys.error(s"$flag is given more than once")
        case "--extractor" :: v :: t => next(t, acc.copy(extractor = Some(v)))
        case "--extractor-config" :: v :: t =>
          next(t, acc.copy(extractorConfig = Some(readMaybeFile(v))))
        case "--transformer" :: v :: t =>
          go(t, acc.copy(transformers = acc.transformers :+ (v -> "")),
            seen - "--transformer-config")
        case "--transformer-config" :: v :: t =>
          if (acc.transformers.isEmpty)
            sys.error("--transformer-config requires a preceding --transformer")
          val updated = acc.transformers.dropRight(1) :+
            (acc.transformers.last._1 -> readMaybeFile(v))
          next(t, acc.copy(transformers = updated))
        case "--loader" :: v :: t => next(t, acc.copy(loader = Some(v)))
        case "--loader-config" :: v :: t =>
          next(t, acc.copy(loaderConfig = Some(readMaybeFile(v))))
        case "--dry-run" :: t => next(t, acc.copy(dryRun = true))
        case Nil => acc
        case bad :: _ => sys.error(s"Unknown run option: $bad")
      }
    }
    go(args, RunOpts(), Set.empty)
  }
}
