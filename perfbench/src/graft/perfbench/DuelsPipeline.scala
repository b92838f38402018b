package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.golden.GoldenFormat
import graft.ops.{Duels, Heroic}

/** The paper's pipeline (exercises 1–4) over one duels log, as a list of
  * statements that share state within a pass: R1 counts in both roles,
  * R2 argmax, R3 smoothed average, R4 distinct pairs, R5 frequent
  * challengers, the R6–R8 heroic fixed point to `eps` plus one extra
  * round, and T1 top-10. Every stage's output is written as text under
  * `out`, one directory per stage, in the reference's layout. */
final class DuelsPipeline(spark: SparkSession, input: String, out: Path) {
  import DuelsPipeline._

  private var duels: DataFrame = _
  private var fp: Heroic.FixedPoint = _
  var bytesWritten = 0L
  /** Fixed-point rounds run, the extra round included. */
  var rounds = 0

  val statements: Seq[(String, Tracer => Unit)] = Seq(
    "r1_challenger" -> { t =>
      // reads the log through the TSV source; every later stage reuses it
      duels = t.span("build")(Duels.readOriginV2(spark, input).persist(StorageLevel.MEMORY_AND_DISK))
      counts(t, "challenges_per_challenger", Duels.challengesPerChallenger(duels))
    },
    "r1_challenged" -> { t =>
      counts(t, "challenges_per_challenged", Duels.challengesPerChallenged(duels))
    },
    "r2_argmax" -> { t =>
      counts(t, "most_challenges", Duels.argmaxPlayer(Duels.challengesPerChallenger(duels)))
    },
    "r3_avg" -> { t =>
      val df = t.span("build")(Duels.smoothedAvg(duels))
      val rows = t.span("exec.action")(df.collect())
      val txt = t.span("golden.format")(GoldenFormat.keyedDoubles(local(rows, df)))
      t.span("sink.write")(write("avg_challenger_score", txt))
    },
    "r4_pairs" -> { t =>
      val df = t.span("build")(Duels.duelPairs(duels))
      val rows = t.span("exec.action")(df.collect())
      val txt = t.span("golden.format")(GoldenFormat.duelPairs(local(rows, df)))
      t.span("sink.write")(write("duel_pairs", txt))
    },
    "r5_frequent" -> { t =>
      counts(t, "frequent_challengers", Duels.frequentChallengers(duels))
    },
    "r6_r8_fixedpoint" -> { t =>
      fp = t.span("build")(Heroic.fixedPoint(duels, alpha = Alpha, eps = Eps, extra = 1))
      rounds = fp.mses.length
      val (sec, last) = t.span("exec.action")((fp.secondLast.collect(), fp.last.collect()))
      val txt = t.span("golden.format")(Seq(
        GoldenFormat.keyedDoubles(local(sec, fp.secondLast)),
        GoldenFormat.keyedDoubles(local(last, fp.last)),
        GoldenFormat.difference(fp.mses.last)))
      t.span("sink.write") {
        write("secondary_heroic_score", txt(0))
        write("heroic_score", txt(1))
        write("difference", txt(2))
      }
    },
    "t1_top10" -> { t =>
      val df = t.span("build")(Heroic.topK(fp.last))
      val rows = t.span("exec.action")(df.collect())
      val txt = t.span("golden.format")(GoldenFormat.topTen(local(rows, df)))
      t.span("sink.write")(write("top_10", txt))
    })

  /** Release everything the pass persisted. */
  def cleanup(): Unit = {
    if (fp != null) { fp.secondLast.unpersist(); fp.last.unpersist() }
    if (duels != null) duels.unpersist()
    fp = null
    duels = null
  }

  /** (player, count) tables in the emulator's text layout: keys sorted
    * as strings, `player \t count`. */
  private def counts(t: Tracer, stage: String, build: => DataFrame): Unit = {
    val df = t.span("build")(build)
    val rows = t.span("exec.action")(df.collect())
    t.span("sink.write")(write(stage, rows.map(r => (r.getLong(0).toString, r.getLong(1)))
      .sortBy(_._1).map { case (k, v) => s"$k\t$v\n" }.mkString))
  }

  /** Collected rows as a driver-local frame, so the formatter's own
    * collect runs no Spark job and format time excludes execution. */
  private def local(rows: Array[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, like.schema)

  private def write(stage: String, text: String): Unit = {
    val dir = out.resolve(stage)
    Files.createDirectories(dir)
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve("part-00000"), bytes)
    bytesWritten += bytes.length
  }
}

object DuelsPipeline {
  val Alpha = 0.1
  val Eps = 0.1
}
