package graft

import graft.core.Session
import graft.etl.Pipeline

/** CLI entry point — the reference's `pre-process` / `process`
  * commands (reference: commands/PreProcess.scala, commands/Process
  * .scala) as one main:
  *
  * {{{
  *   graft.Main pre-process -i <inputDir> -o <stageDir>
  *   graft.Main process     -i <inputDir> -o <workDir>   // both stages
  * }}}
  *
  * `<inputDir>/dictionary.json` is required: it backs the whitelist
  * dictionary ([[graft.etl.JsonDictionary]]), and a run without it
  * fails naming that file.
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

    cmd match {
      case "pre-process" =>
        Pipeline.preProcessStage(spark, in, out,
          dictionary = Pipeline.dictionary(spark, in))
        println(s"pre-process complete -> $out")
      case "process" | _ =>
        Pipeline.run(spark, in, out)
        println(s"pipeline complete -> $out/indexes/{donors,studies,files}")
    }
    spark.stop()
  }
}
