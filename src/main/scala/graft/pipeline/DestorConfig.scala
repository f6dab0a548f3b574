package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.chunking.ChunkerConfig

/** Rewrite-algorithm knobs (reference src/destor.h:240-253; defaults are
  * the shipped destor.config values — destor_start() leaves the cfl/cbr/
  * capping fields unset and the distributed config supplies them,
  * destor.config:116-139; HAR defaults at src/destor.c:119-124).
  */
final case class RewriteSettings(
    algorithm: String = "no", // no | cfl | cbr | cap
    bufferSize: Int = 1024, // rewrite_algorithm[1]
    enableCflSwitch: Boolean = false,
    cflRequire: Double = 0.6,
    cflUsageThreshold: Double = 0.03,
    cbrLimit: Double = 0.05,
    cbrMinimalUtility: Double = 0.5,
    cappingLevel: Int = 14,
    enableHar: Boolean = false,
    harUtilizationThreshold: Double = 0.5,
    harRewriteLimit: Double = 0.05,
    enableCacheAware: Boolean = false)

/** The parse result of a destor config string: the typed configs every
  * engine entry point takes, plus the directives that are carried for
  * contract completeness but have no engine effect here (Spark subsumes
  * the reference's working directory, log level, cache sizing and the
  * upstream-dead bloom filter).
  */
final case class DestorSettings(
    chunker: ChunkerConfig = ChunkerConfig(algo = "rabin",
      minSize = 1024, avgSize = 8192, maxSize = 65536),
    index: IndexConfig = IndexConfig(exact = false,
      logicalLocality = false, samplingMethod = "uniform", sampleRate = 1,
      segmentMethod = "fixed", selectionTopK = 1),
    indexPreset: Option[String] = None,
    indexValueLength: Int = 1,
    rewrite: RewriteSettings = RewriteSettings(),
    restoreCache: String = "lru", // lru | opt | asm
    restoreCacheSize: Int = 1024,
    restoreOptWindow: Int = 1000000,
    simulationLevel: String = "no",
    traceFormat: String = "destor",
    raw: Map[String, Seq[String]] = Map.empty) {

  def dedupConfig: DedupConfig = DedupConfig(chunker = chunker)

  /** The configured rewrite pass over a stream recipe — `-p
    * "rewrite-algorithm cap 64"` as one call. Every algorithm marks its
    * rewrite decision in the same `outOfOrder` boolean column.
    * `payload` is the container payload the byte-threshold algorithms
    * (cfl run bytes, cbr coverage) measure against — callers running at a
    * non-default container size (TracePipeline) MUST thread theirs
    * through or every duplicate run looks tiny next to 4 MiB.
    */
  def rewritePass(recipe: DataFrame,
      payload: Long = Rewrite.ContainerPayload): DataFrame =
    rewrite.algorithm match {
      case "no" => recipe
      case "cap" =>
        Rewrite.cap(recipe, rewrite.bufferSize, rewrite.cappingLevel)
      case "cbr" => Rewrite.cbr(recipe, rewrite.bufferSize,
        rewrite.cbrLimit, rewrite.cbrMinimalUtility, payload)
      case "cfl" =>
        Rewrite.cflRuns(recipe, rewrite.cflUsageThreshold, payload)
      case other =>
        throw new IllegalArgumentException(s"unknown rewrite: $other")
    }

  /** [[rewritePass]] over one stream held on the driver: each row's
    * `outOfOrder` flag. */
  def rewritePassLocal(s: Rewrite.LocalStream,
      payload: Long = Rewrite.ContainerPayload): Array[Boolean] =
    rewrite.algorithm match {
      case "no" => new Array[Boolean](s.length)
      case "cap" =>
        Rewrite.capLocal(s, rewrite.bufferSize, rewrite.cappingLevel)
      case "cbr" => Rewrite.cbrLocal(s, rewrite.bufferSize,
        rewrite.cbrLimit, rewrite.cbrMinimalUtility, payload)
      case "cfl" =>
        Rewrite.cflLocal(s, rewrite.cflUsageThreshold, payload)
      case other =>
        throw new IllegalArgumentException(s"unknown rewrite: $other")
    }

  /** The configured restore-cache simulation — `restore-cache opt 1024`
    * as one call (window size only applies to OPT,
    * reference src/restore.c:12-40).
    */
  def restoreSim(recipe: DataFrame): DataFrame =
    RestoreSim.simulate(recipe, restoreCacheSize, restoreCache,
      restoreOptWindow).toDF()

  /** Whether a job runs the restore simulation: `simulation-level
    * restore` or `all`. */
  def runsRestoreSim: Boolean =
    simulationLevel == "restore" || simulationLevel == "all"

  /** The `simulation-level` dispatch (reference src/destor.c:263-366 +
    * do_backup.c:31-37): ONLY `simulation-level all` routes backup input
    * through the trace reader — at `no`/`append`/`restore` the reference
    * runs the real read+chunk+hash phases and the simulation level
    * governs container IO instead. Under `all`, pre-hashed trace chunk
    * streams (one DataFrame per backup job, the TraceSource/FslSource
    * read schema: path, chunkIdx, fp, size) replay through first-writer
    * dedup → container packing → THIS config's rewrite pass (+ HAR) →
    * THIS config's restore cache — [[TracePipeline.run]]. Any other
    * level is rejected loudly, exactly as faithful dispatch demands.
    */
  def tracePipeline(jobs: Seq[DataFrame],
      payload: Long = Rewrite.ContainerPayload): DataFrame = {
    require(simulationLevel == "all",
      s"simulation-level is '$simulationLevel' — trace replay requires " +
        "'all' (the reference reads traces only at SIMULATION_ALL, " +
        "do_backup.c:31-37)")
    TracePipeline.run(jobs, this, payload)
  }

  /** The reference's whole similarity loop under THIS config — chunking
    * per the chunk-* directives, segment/sample/index/prefetch per the
    * forced fingerprint-index directives (incl. `indexValueLength` as
    * the FIFO kvstore value length), Jaccard verification, connected
    * components. `destor.config in → clusters out`, one call.
    */
  def presetClusters(corpus: org.apache.spark.sql.Dataset[graft.corpus.CorpusFile]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cfg = dedupConfig
    val features = DedupPipeline.featurize(corpus, cfg).persist()
    val cand = DedupPipeline.presetCandidates(features, index, indexValueLength)
    val verified = DedupPipeline
      .verifiedPairs(cand, DedupPipeline.sigs(features), cfg)
      .select($"a", $"b")
    val out = ConnectedComponents.run(
        features.select($"fileId").toDF("fileId"), verified, cfg.ccMaxIter)
      .localCheckpoint(true)
    features.unpersist()
    out
  }
}

/** destor's config-string surface (reference src/config.c:19-325, the
  * `destor.config` file and the `-p "<config line>"` CLI override): the
  * same directive names, arities, keyword sets and quoting rules, parsed
  * into this repo's typed configs. Error handling is DELIBERATELY STRICTER
  * than config.c in two spots: upstream yesnotoi() silently stores -1 for
  * an invalid yes/no value and atoi() silently truncates non-numeric input
  * ('12abc' → 12); this parser rejects both with a line-numbered error —
  * a config the reference would silently misread fails loudly here.
  * Directive semantics:
  *
  *  - chunk-* → [[ChunkerConfig]]
  *  - fingerprint-index <exact|near-exact> <physical|logical> [specific]
  *    → [[IndexConfig]]; a named specific asserts its category pair
  *    exactly like config.c:130-157. After the whole config is parsed,
  *    [[IndexPresets.force]] runs UNCONDITIONALLY (init_index semantics):
  *    the specific's published combination is pinned — preserving user
  *    sampling rates / prefetch where index.c does — and the
  *    EXACT/PHYSICAL post-switch rules apply to every config, preset or
  *    not (e.g. `exact physical` forces fixed segmenting + uniform/1)
  *  - fingerprint-index-* → sampling/segmenting/selection/prefetch knobs
  *  - rewrite-* → [[RewriteSettings]] (executable via
  *    [[DestorSettings.rewritePass]])
  *  - restore-cache / restore-opt-window-size → executable via
  *    [[DestorSettings.restoreSim]]
  *  - working-directory, log-level, fingerprint-index-cache-size,
  *    fingerprint-index-key-value, fingerprint-index-bloom-filter,
  *    backup-retention-time, simulation-level, trace-format → parsed,
  *    validated and retained in `raw` (no engine effect: Spark subsumes
  *    the machinery, the bloom filter is dead code upstream, simulation
  *    level is the engine's native mode)
  */
object DestorConfig {

  /** The effective directives of destor's shipped `destor.config`, as far
    * as this repo records them — the engine's own copy, so no entry point
    * reads the reference tree at run time. Not a verbatim copy: the
    * upstream comments are dropped, and so is every directive the repo
    * does not record. Provenance, line by line:
    *
    *  - `working-directory`, `backup-retention-time`: DestorConfigSpec's
    *    `raw` assertions
    *  - chunk-*: fastcdc (destor.config:28, SURVEY.md P7) at
    *    2048/8192/65536 (destor.config:30-34, FIXTURES.md)
    *  - the quoted `"block locality caching"` preset on its leading-space
    *    line, prefetching 1, value length 1: DestorConfigSpec
    *  - key size 20: destor.config:77 (SURVEY.md)
    *  - content-defined segments of 1024, boundary 128 10240:
    *    destor.config:96-99 (SURVEY.md W6)
    *  - rewrite-*: `no`, HAR yes 0.5/0.05, cache-aware no, cbr minimal
    *    utility 0.5 from DestorConfigSpec; capping 14 at destor.config:139
    *    (SURVEY.md W4)
    *  - `restore-cache lru 30`, opt window 1000000: DestorConfigSpec
    *
    * Omitted, because neither source records the shipped value:
    * `log-level`, `fingerprint-index-cache-size` and
    * `fingerprint-index-sampling-method` (the first two only ever land in
    * `raw`; the block-locality-caching preset forces uniform/1 sampling
    * whatever the file says), plus any other upstream directive. Where
    * the upstream file is present, DestorConfigSpec checks that it parses
    * to the same settings as this string, `raw` aside.
    */
  val ShippedDirectives: String =
    """working-directory "/mnt/sda/destor/"
      |chunk-algorithm fastcdc
      |chunk-avg-size 8192
      |chunk-max-size 65536
      |chunk-min-size 2048
      | fingerprint-index exact logical "block locality caching"
      |fingerprint-index-key-size 20
      |fingerprint-index-value-length 1
      |fingerprint-index-segment-algorithm content-defined 1024
      |fingerprint-index-segment-boundary 128 10240
      |fingerprint-index-segment-prefetching 1
      |rewrite-algorithm no
      |rewrite-capping-level 14
      |rewrite-cbr-minimal-utility 0.5
      |rewrite-enable-har yes
      |rewrite-har-utilization-threshold 0.5
      |rewrite-har-rewrite-limit 0.05
      |rewrite-enable-cache-aware no
      |restore-cache lru 30
      |restore-opt-window-size 1000000
      |backup-retention-time 20
      |""".stripMargin

  /** Faithful sdssplitargs tokenizer (reference src/utils/sds.c):
    * whitespace-split; double quotes decode \\xHH hex escapes and
    * \\n \\r \\t \\b \\a (any other backslashed char is itself); single
    * quotes are literal except \\'; a CLOSING quote of either kind must
    * be followed by whitespace or end of line (a token like `a"b c"d` is
    * an error, exactly as upstream); quotes opened mid-token extend the
    * same token; unterminated quotes are an error (the upstream NULL
    * return).
    */
  private[pipeline] def splitArgs(line: String): Option[Seq[String]] = {
    val n = line.length
    // C isspace(): space \t \n \v \f \r
    def isSp(c: Char) = c == ' ' || c == '\n' || c == '\r' || c == '\t' ||
      c == '\u000b' || c == '\u000c'
    def isHex(c: Char) =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    def hv(c: Char): Int =
      if (c <= '9') c - '0' else (c.toLower - 'a') + 10
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < n) {
      while (i < n && isSp(line(i))) i += 1
      if (i < n) {
        val sb = new StringBuilder
        var inq = false
        var insq = false
        var done = false
        while (!done) {
          if (inq) {
            if (i >= n) return None // unterminated quotes
            else if (line(i) == '\\' && i + 3 < n && line(i + 1) == 'x' &&
                isHex(line(i + 2)) && isHex(line(i + 3))) {
              sb += (hv(line(i + 2)) * 16 + hv(line(i + 3))).toChar
              i += 3
            } else if (line(i) == '\\' && i + 1 < n) {
              i += 1
              sb += (line(i) match {
                case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'
                case 'b' => '\b'; case 'a' => '\u0007'; case c => c
              })
            } else if (line(i) == '"') {
              if (i + 1 < n && !isSp(line(i + 1))) return None
              done = true
            } else sb += line(i)
          } else if (insq) {
            if (i >= n) return None // unterminated quotes
            else if (line(i) == '\\' && i + 1 < n && line(i + 1) == '\'') {
              sb += '\''; i += 1
            } else if (line(i) == '\'') {
              if (i + 1 < n && !isSp(line(i + 1))) return None
              done = true
            } else sb += line(i)
          } else {
            if (i >= n) done = true
            else line(i) match {
              case c if isSp(c) => done = true
              case '"' => inq = true
              case '\'' => insq = true
              case c => sb += c
            }
          }
          if (i < n) i += 1
        }
        out += sb.result()
      }
    }
    Some(out.result())
  }

  private def err(linenum: Int, line: String, msg: String): Nothing =
    throw new IllegalArgumentException(
      s"destor config error at line $linenum: '$line' — $msg")

  def parse(config: String): DestorSettings = {
    var s = DestorSettings()
    var raw = Map.empty[String, Seq[String]]
    config.split("\n", -1).zipWithIndex.foreach { case (rawLine, i) =>
      val linenum = i + 1
      val line = rawLine.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        val argv = splitArgs(line).getOrElse(
          err(linenum, line, "Unbalanced quotes in configuration line"))
        if (argv.nonEmpty) {
          val key = argv.head.toLowerCase
          val a = argv.tail
          def one: String = a.head.toLowerCase
          def int(v: String): Int =
            try v.toInt catch { case _: NumberFormatException =>
              err(linenum, line, s"invalid integer '$v'") }
          def dbl(v: String): Double =
            try v.toDouble catch { case _: NumberFormatException =>
              err(linenum, line, s"invalid number '$v'") }
          def yesno(v: String): Boolean = v.toLowerCase match {
            case "yes" => true
            case "no" => false
            case other => err(linenum, line, s"expected yes/no, got '$other'")
          }
          raw += (key -> a)
          (key, a.length) match {
            case ("working-directory", 1) | ("log-level", 1) |
                 ("fingerprint-index-cache-size", 1) |
                 ("fingerprint-index-bloom-filter", 1) |
                 ("backup-retention-time", 1) => // retained in raw only
              if (key == "log-level" &&
                  !Seq("debug", "verbose", "notice", "warning").contains(one))
                err(linenum, line, "Invalid log level")
            case ("simulation-level", 1) =>
              if (!Seq("all", "append", "restore", "no").contains(one))
                err(linenum, line, "Invalid simulation level")
              s = s.copy(simulationLevel = one)
            case ("trace-format", 1) =>
              if (!Seq("destor", "fsl").contains(one))
                err(linenum, line, "Invalid trace format")
              s = s.copy(traceFormat = one)
            case ("chunk-algorithm", 1) =>
              val algo = one match {
                case "fixed" | "rabin" | "normalized_rabin" | "tttd" |
                     "file" | "ae" | "fastcdc" => one
                case _ => err(linenum, line, "Invalid chunk algorithm")
              }
              s = s.copy(chunker = s.chunker.copy(algo = algo))
            case ("chunk-avg-size", 1) =>
              s = s.copy(chunker = s.chunker.copy(avgSize = int(a.head)))
            case ("chunk-max-size", 1) =>
              s = s.copy(chunker = s.chunker.copy(maxSize = int(a.head)))
            case ("chunk-min-size", 1) =>
              s = s.copy(chunker = s.chunker.copy(minSize = int(a.head)))
            case ("fingerprint-index", n) if n >= 2 =>
              val exact = one match {
                case "exact" => true
                case "near-exact" => false
                case _ => err(linenum, line, "Invalid index category")
              }
              val logical = a(1).toLowerCase match {
                case "physical" => false
                case "logical" => true
                case _ => err(linenum, line, "Invalid index category")
              }
              s = s.copy(index = s.index.copy(
                exact = exact, logicalLocality = logical))
              if (n > 2) {
                val (preset, wantExact, wantLogical) = a(2).toLowerCase match {
                  case "ddfs" => ("ddfs", true, false)
                  case "sampled index" => ("sampled", false, false)
                  case "block locality caching" => ("blc", true, true)
                  case "extreme binning" => ("extreme_binning", false, true)
                  case "sparse index" => ("sparse", false, true)
                  case "silo" => ("silo", false, true)
                  case _ => err(linenum, line, "Invalid index specific")
                }
                if (exact != wantExact || logical != wantLogical)
                  err(linenum, line,
                    s"index specific '${a(2)}' requires " +
                    s"${if (wantExact) "exact" else "near-exact"} " +
                    s"${if (wantLogical) "logical" else "physical"}")
                s = s.copy(indexPreset = Some(preset))
              }
            case ("fingerprint-index-key-value", 1) =>
              if (one != "htable") err(linenum, line, "Invalid key-value store")
            case ("fingerprint-index-key-size", 1) =>
              s = s.copy(index = s.index.copy(keyBytes = int(a.head)))
            case ("fingerprint-index-value-length", 1) =>
              s = s.copy(indexValueLength = int(a.head))
            case ("fingerprint-index-sampling-method", n) if n >= 1 =>
              if (!Seq("optmin", "random", "min", "uniform").contains(one))
                err(linenum, line, "Invalid feature method!")
              s = s.copy(index = s.index.copy(samplingMethod = one,
                sampleRate = if (n > 1) int(a(1)) else 0))
            case ("fingerprint-index-segment-algorithm", n) if n >= 1 =>
              val m = one match {
                case "fixed" => "fixed"
                case "file-defined" => "file"
                case "content-defined" => "content"
                case _ => err(linenum, line, "Invalid segment algorithm")
              }
              s = s.copy(index = s.index.copy(segmentMethod = m))
              if (n > 1) {
                if (m == "file")
                  err(linenum, line, "file-defined segmenting takes no size")
                s = s.copy(index = s.index.copy(segmentSize = int(a(1))))
              }
            case ("fingerprint-index-segment-boundary", 2) =>
              s = s.copy(index = s.index.copy(
                segmentMin = int(a(0)), segmentMax = int(a(1))))
            case ("fingerprint-index-segment-selection", n) if n >= 1 =>
              one match {
                case "base" | "mix" =>
                  s = s.copy(index = s.index.copy(selectionTopK = 1))
                case "top" =>
                  s = s.copy(index = s.index.copy(
                    selectionTopK = if (n > 1) int(a(1)) else 1))
                case _ => err(linenum, line, "Invalid selection method!")
              }
            case ("fingerprint-index-segment-prefetching", 1) =>
              s = s.copy(index = s.index.copy(segmentPrefetch = int(a.head)))
            case ("rewrite-algorithm", n) if n >= 1 =>
              val algo = one match {
                case "no" => "no"
                case "cfl-based selective deduplication" | "cfl" => "cfl"
                case "context-based rewriting" | "cbr" => "cbr"
                case "capping" | "cap" => "cap"
                case _ => err(linenum, line, "Invalid rewriting algorithm")
              }
              // NOTE: upstream's guard `assert(destor.rewrite_algorithm
              // != REWRITE_NO)` compares the ARRAY pointer (always
              // non-null), so `rewrite-algorithm no 1024` is accepted and
              // the size stored — mirror that, don't reject it
              s = s.copy(rewrite = s.rewrite.copy(algorithm = algo,
                bufferSize = if (n > 1) int(a(1)) else 1024))
            case ("rewrite-enable-cfl-switch", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(enableCflSwitch = yesno(a.head)))
            case ("rewrite-cfl-require", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(cflRequire = dbl(a.head)))
            case ("rewrite-cfl-usage-threshold", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(cflUsageThreshold = dbl(a.head)))
            case ("rewrite-cbr-limit", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(cbrLimit = dbl(a.head)))
            case ("rewrite-cbr-minimal-utility", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(cbrMinimalUtility = dbl(a.head)))
            case ("rewrite-capping-level", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(cappingLevel = int(a.head)))
            case ("rewrite-enable-har", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(enableHar = yesno(a.head)))
            case ("rewrite-har-utilization-threshold", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(harUtilizationThreshold = dbl(a.head)))
            case ("rewrite-har-rewrite-limit", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(harRewriteLimit = dbl(a.head)))
            case ("rewrite-enable-cache-aware", 1) =>
              s = s.copy(rewrite = s.rewrite.copy(enableCacheAware = yesno(a.head)))
            case ("restore-cache", 2) =>
              val policy = one match {
                case "lru" => "lru"
                case "optimal cache" | "opt" => "opt"
                case "forward assembly" | "asm" => "asm"
                case _ => err(linenum, line, "Invalid restore cache")
              }
              s = s.copy(restoreCache = policy, restoreCacheSize = int(a(1)))
            case ("restore-opt-window-size", 1) =>
              s = s.copy(restoreOptWindow = int(a.head))
            case _ =>
              err(linenum, line, "Bad directive or wrong number of arguments")
          }
        }
      }
    }
    // init_index forcing, applied after config load exactly like the
    // reference (src/index/index.c:34-110): the named specific pins its
    // published combination while preserving user rates/prefetch where
    // index.c does, then the unconditional EXACT/PHYSICAL post-switch
    // rules run for EVERY config — see IndexPresets.force.
    s = s.copy(index = IndexPresets.force(s.index, s.indexPreset))
    s.copy(raw = raw)
  }
}
