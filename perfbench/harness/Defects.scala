package perfbench

import java.nio.file.{Files, Paths}

import graft.Engine
import graft.plans.Statements

/** Reproduces the statement-pipeline defects the benchmark works around,
  * for the program change that fixes them. Each case prints `REPRODUCED`
  * with the error, or `NOT REPRODUCED` when the call succeeds.
  *
  *   perfbench.Defects <statement batch dir> <january batch dir> <scratch dir>
  */
object Defects {
  def main(args: Array[String]): Unit = {
    val Array(batch, january, scratch) = args
    val spark = Engine.session("perfbench-defects", 2)
    def attempt(name: String)(body: => Unit): Unit = {
      val outcome =
        try { body; "NOT REPRODUCED" }
        catch { case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
          s"REPRODUCED: ${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
            .linesIterator.next().take(240)
        }
      println(s"[$name] $outcome")
    }
    def out(name: String): String = {
      val d = Paths.get(scratch, name)
      Files.createDirectories(d)
      d.toString
    }

    attempt("bare Engine.session: Statements on ene/abr/ago/dic dates") {
      Statements.writeWorkbook(Statements.extract(spark, batch), out("bare"))
    }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    attempt("writeWorkbook into a directory that does not exist") {
      Statements.writeWorkbook(Statements.extract(spark, batch), s"$scratch/not/created")
    }
    attempt("batch whose operation dates are all in ene/dic (January statements)") {
      Statements.writeWorkbook(Statements.extract(spark, january), out("january"))
    }
    spark.stop()
  }
}
