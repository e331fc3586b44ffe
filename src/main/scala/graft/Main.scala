package graft

import graft.core.Session
import graft.etl.{JsonDictionary, Pipeline, StaticDictionary}

/** CLI entry point — the reference's `pre-process` / `process`
  * commands (reference: commands/PreProcess.scala, commands/Process
  * .scala) as one main:
  *
  * {{{
  *   graft.Main pre-process -i <inputDir> -o <stageDir>
  *   graft.Main process     -i <inputDir> -o <workDir>   // both stages
  * }}}
  *
  * When `<inputDir>/dictionary.json` exists it backs the whitelist
  * dictionary; otherwise the built-in fixture schemas apply.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("process")
    def flag(name: String, default: String): String = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) args(i + 1) else default
    }
    val in = flag("-i", "src/test/resources/clinical")
    val out = flag("-o", "/tmp/graft-out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val dict =
      if (new java.io.File(s"$in/dictionary.json").exists())
        JsonDictionary(spark, s"$in/dictionary.json")
      else StaticDictionary(Pipeline.FixtureSchemas)

    cmd match {
      case "pre-process" =>
        Pipeline.preProcessStage(spark, in, out, dictionary = dict)
        println(s"pre-process complete -> $out")
      case "process" | _ =>
        val entities =
          Pipeline.preProcessStage(spark, in, s"$out/stage1",
            dictionary = dict)
        Pipeline.processStage(spark, in, entities, s"$out/indexes")
        println(s"pipeline complete -> $out/indexes/{donors,studies,files}")
    }
    spark.stop()
  }
}
