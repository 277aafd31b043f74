package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.{Gen, rng}

/** Property invariants for the round-10 wave-3 operators: each windowed /
  * composed formulation is checked against an independent brute-force
  * reference on scalacheck-generated frames (deterministic seeds).
  */
class Wave3PropertySpec extends SparkSpec {
  import spark.implicits._

  private val seeds = 1L to 8L

  private def gen[T](g: Gen[List[T]], s: Long): List[T] =
    g(Gen.Parameters.default, rng.Seed(s)).get

  // --- skyline: windowed construction == O(n²) dominance filter -----------

  test("skyline: windowed frontier equals brute-force dominance on random frames") {
    val rowGen = Gen.nonEmptyListOf(for {
      d <- Gen.chooseNum(1, 20)
      p <- Gen.chooseNum(1, 50)
    } yield (d, p.toDouble))
    seeds.foreach { s =>
      val rows = gen(rowGen, s).zipWithIndex.map { case ((d, p), i) => (i.toLong, d, p) }
      val df = rows.toDF("id", "d", "price")
      // the q_skyline construction (date stands in as the int axis)
      val pd = df.groupBy("d").agg(max("price").as("dmax"))
      val wNewer = Window.orderBy(col("d").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val nm = pd.withColumn("newerMax", max(col("dmax")).over(wNewer))
      val frontier = df.join(broadcast(nm), Seq("d"))
        .filter((col("newerMax").isNull || col("newerMax") < col("price")) &&
          col("price") === col("dmax"))
        .select("id").as[Long].collect().toSet
      // brute force: r survives iff no other row strictly dominates it
      val brute = rows.filter { case (i, d, p) =>
        !rows.exists { case (j, d2, p2) =>
          j != i && d2 >= d && p2 >= p && (d2 > d || p2 > p)
        }
      }.map(_._1).toSet
      frontier shouldBe brute
    }
  }

  // --- KS: integer D numerator == brute-force sup over thresholds ---------

  test("ks: windowed integer D equals brute-force sup |c1*n2 - c2*n1| over all thresholds") {
    val sampleGen = Gen.nonEmptyListOf(Gen.chooseNum(0, 40))
    seeds.foreach { s =>
      val xs = gen(sampleGen, s).map(_.toDouble)
      val ys = gen(sampleGen, s + 100).map(_.toDouble)
      val a = xs.map(v => (v, 1L, 0L)); val b = ys.map(v => (v, 0L, 1L))
      val byV = (a ++ b).toDF("v", "ia", "ib")
        .groupBy("v").agg(sum("ia").as("da"), sum("ib").as("db"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = byV.withColumn("ca", sum(col("da")).over(w))
        .withColumn("cb", sum(col("db")).over(w))
      val dNum = c.agg(max(abs(col("ca") * ys.length - col("cb") * xs.length)))
        .head().getLong(0)
      val brute = (xs ++ ys).distinct.map { t =>
        math.abs(xs.count(_ <= t).toLong * ys.length - ys.count(_ <= t).toLong * xs.length)
      }.max
      dNum shouldBe brute
    }
  }

  // --- session_window builtin == gaps-and-islands on random event sets ----

  test("session_window: builtin sessions equal the >=gap gaps-and-islands formulation") {
    val evGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1, 5)
      t <- Gen.chooseNum(0L, 86400L) // seconds over one day
      v <- Gen.chooseNum(0.0, 50.0)
    } yield (u.toLong, t, v))
    seeds.foreach { s =>
      val df = gen(evGen, s).toDF("u", "secs", "v")
        .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
      val builtin = df.groupBy(col("u"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("u"), col("session_window.start").as("st"), col("n"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      val w = Window.partitionBy("u").orderBy("ts")
      val islands = df
        .withColumn("brk", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= 1800L * 1000000L,
          1L).otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("u", "sid")
        .agg(min(col("ts")).as("st"), count(lit(1)).cast(LongType).as("n"))
        .select(col("u"), col("st"), col("n"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      builtin shouldBe islands
    }
  }
}
