package graft.cj

import java.nio.file.{Files, Paths}
import graft.model.{LogRow, Triple}

/** Drop-in user-facing API mirroring the reference's public surface
  * (/root/reference/CityJsonRDF/CityJsonRDF.h:43 `CityJsonRDF::Open` and
  * cityJSON2bin/Main.cpp): open one CityJSON file, get the converted model
  * (here: the triple set instead of an engine handle), with the same
  * progress and log callback contracts.
  */
object CityJsonRdf {

  /** IProgress analog (CityJsonRDF.h:24-29). */
  trait Progress {
    def start(range: Int): Unit
    def step(): Unit
    def finish(): Unit
  }

  /** ILog analog (CityJsonRDF.h:34-38). */
  trait Log {
    def message(level: String, category: String, msg: String, state: String): Unit
  }

  /** CityJsonRDF::Open analog: returns None on document-level failure (the
    * reference returns a NULL model, CityJsonRDF.cpp:29-41). */
  def open(cityFilePath: String, progress: Progress = null, log: Log = null,
      settings: CjSettings = CjSettings.default): Option[Vector[Triple]] = {
    val bytes =
      try Files.readAllBytes(Paths.get(cityFilePath))
      catch {
        case _: Exception =>
          if (log != null)
            log.message("Error", "Failed to open file '%s'", s"Failed to open file '$cityFilePath'", "")
          return None
      }
    val res = CjConvert.convert(CityJsonSource.docIriFor(cityFilePath), bytes, settings)
    // the steps are reported once the document has converted, so the range
    // is known: one step per city object, like the reference's Start(range)
    if (progress != null) {
      progress.start(res.cityObjectCount)
      (1 to res.cityObjectCount).foreach(_ => progress.step())
      progress.finish()
    }
    if (log != null) res.logs.foreach(l => log.message(l.level, l.category, l.msg, l.path))
    if (res.docFailed) None else Some(res.triples)
  }
}

/** CLI analog of cityJSON2bin (Main.cpp:86-107): converts one CityJSON file
  * to the engine's triple serialization (ndjson — the .bin sink analog, S4),
  * printing progress and category-deduplicated logs exactly like the
  * reference harness (Main.cpp:28-82).
  */
object CityJson2Triples {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      println("USAGE:")
      println(s"\tcityJSON2triples <input cityJSON file path> <output ndjson file path>")
      sys.exit(-1)
    }
    println(s"Converting ${args(0)} to ${args(1)}....")

    val progress = new CityJsonRdf.Progress {
      private var range = 1
      private var stepN = 0
      private var proc = 0
      def start(r: Int): Unit = { println("PROGRESS: Start loading city objects..."); range = math.max(1, r) }
      def step(): Unit = {
        stepN += 1
        val p = 10 * stepN / range
        if (p > proc) { proc = p; println(s"PROGRESS: ${proc * 10}%...") }
      }
      def finish(): Unit = println("PROGRESS: city objects loaded")
    }
    val seen = scala.collection.mutable.HashSet[String]()
    val log = new CityJsonRdf.Log {
      def message(level: String, category: String, msg: String, state: String): Unit = {
        if (seen.add(category)) {
          val suffix = if (state != null && state.nonEmpty) s" (for $state)" else ""
          println(s"++ LOG ${level.toUpperCase}: $msg$suffix")
        }
      }
    }

    CityJsonRdf.open(args(0), progress, log) match {
      case Some(triples) =>
        val w = Files.newBufferedWriter(Paths.get(args(1)))
        try triples.foreach { t => w.write(graft.tools.GenGolden.tripleJson(t)); w.write("\n") }
        finally w.close()
        println(s"Wrote ${triples.size} triples")
      case None =>
        println("ERROR: Failed to read model")
        sys.exit(1)
    }
  }
}
