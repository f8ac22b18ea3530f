package graft.jobs

/** Command-line argument surface of the reference CLI
  * (config/CommandLineArgs.kt): every flag the reference accepts, parsed
  * into an override record that [[ConfigLoader.load]] layers on top of
  * YAML + environment (reference Application.kt:214-217 order:
  * `load(yaml).withEnv().addArgs(cli).validate()` — CLI wins).
  *
  * Positional (non-flag) arguments are input paths, like the reference's
  * variable-arity main parameter.
  */
final case class CliArgs(
    inputPaths: Seq[String] = Nil,            // positional
    configFile: Option[String] = None,        // -F / --config-file
    clean: Option[Boolean] = None,            // -C / --clean
    noRestructure: Option[Boolean] = None,    // --no-restructure
    format: Option[String] = None,            // -f / --format
    compression: Option[String] = None,       // -c / --compression
    deduplicate: Option[Boolean] = None,      // -d / --deduplicate
    outputDirectory: Option[String] = None,   // -o / --output-directory
    numThreads: Option[Int] = None,           // -t / --num-threads
    tmpDir: Option[String] = None,            // --tmp-dir
    cacheSize: Option[Int] = None,            // -s / --cache-size
    maxFilesPerTopic: Option[Int] = None,     // --max-files-per-topic
    asService: Option[Boolean] = None,        // -S / --service
    pollInterval: Option[Long] = None,        // -i / --interval
    help: Boolean = false)                    // -h / --help

object CliArgs {

  val usage: String =
    """usage: graft.Main [-F <config.yml>] [options] [<input_path> ...]
      |  -F, --config-file <f>        Config file (default: restructure.yml)
      |  -C, --clean                  Run with old file cleaning enabled
      |      --no-restructure         Disable restructuring (with --clean)
      |  -f, --format <csv|json>      Output format
      |  -c, --compression <t>        Output compression (gzip, zip, none)
      |  -d, --deduplicate            Enable deduplication
      |  -o, --output-directory <d>   Output folder
      |  -t, --num-threads <n>        Topic-processing parallelism (> 0)
      |  -s, --cache-size <n>         Writer cache size (> 0)
      |      --max-files-per-topic <n>  Max files to process per topic
      |      --tmp-dir <d>            Temporary staging directory
      |  -S, --service                Run as a polling service
      |  -i, --interval <sec>         Service polling interval
      |  -h, --help                   Show this message
      |legacy flags: --once (one-shot even if service.enable)""".stripMargin

  /** Parse reference-style flags. Unknown flags fail fast (like
    * jcommander); `--once` is accepted as the legacy one-shot override.
    */
  def parse(args: Seq[String]): CliArgs = {
    def positiveInt(flag: String, v: String): Int = {
      val n = v.toInt
      require(n > 0, s"$flag must be positive, got $v")
      n
    }
    @annotation.tailrec
    def go(rest: List[String], acc: CliArgs): CliArgs = rest match {
      case Nil => acc
      case ("-F" | "--config-file") :: v :: t => go(t, acc.copy(configFile = Some(v)))
      case ("-C" | "--clean") :: t => go(t, acc.copy(clean = Some(true)))
      case "--no-restructure" :: t => go(t, acc.copy(noRestructure = Some(true)))
      case ("-f" | "--format") :: v :: t => go(t, acc.copy(format = Some(v)))
      case ("-c" | "--compression") :: v :: t => go(t, acc.copy(compression = Some(v)))
      case ("-d" | "--deduplicate") :: t => go(t, acc.copy(deduplicate = Some(true)))
      case ("-o" | "--output-directory") :: v :: t =>
        require(v.nonEmpty, "--output-directory must not be empty")
        go(t, acc.copy(outputDirectory = Some(v)))
      case ("-t" | "--num-threads") :: v :: t =>
        go(t, acc.copy(numThreads = Some(positiveInt("--num-threads", v))))
      case ("-s" | "--cache-size") :: v :: t =>
        go(t, acc.copy(cacheSize = Some(positiveInt("--cache-size", v))))
      case "--max-files-per-topic" :: v :: t =>
        go(t, acc.copy(maxFilesPerTopic = Some(v.toInt)))
      case "--tmp-dir" :: v :: t => go(t, acc.copy(tmpDir = Some(v)))
      case ("-S" | "--service") :: t => go(t, acc.copy(asService = Some(true)))
      case "--once" :: t => go(t, acc.copy(asService = Some(false)))
      case ("-i" | "--interval") :: v :: t => go(t, acc.copy(pollInterval = Some(v.toLong)))
      case ("-h" | "--help") :: t => go(t, acc.copy(help = true))
      // accepted for reference CLI parity and ignored: graft prints no
      // per-stage timing
      case ("--timer") :: t => go(t, acc)
      case f :: _ if f.startsWith("-") =>
        throw new IllegalArgumentException(s"unknown flag $f\n$usage")
      case p :: t => go(t, acc.copy(inputPaths = acc.inputPaths :+ p))
    }
    go(args.toList, CliArgs())
  }
}
