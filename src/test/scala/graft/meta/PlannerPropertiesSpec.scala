package graft.meta

import java.time.LocalDate

import graft.SparkFunSuite
import graft.core.CubeConfig
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property layer the reference lacks (SURVEY §5 port strategy):
  * date-filter ⊆, dedup idempotence, resample row-count law. Plain
  * scalacheck generators sampled with fixed seeds (scalatestplus is not
  * on the offline classpath), so runs are deterministic.
  */
class PlannerPropertiesSpec extends SparkFunSuite {
  import spark.implicits._

  private val dateGen = Gen.choose(0L, 120L).map(d => LocalDate.of(2021, 1, 1).plusDays(d))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def layersOf(dates: Seq[LocalDate], times: Seq[String]) = {
    val rows = dates.zip(times).zipWithIndex.map { case ((d, t), i) =>
      (s"p_$i.tif", s"/x/p_$i.parquet",
        d.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE), t, 30.0 + i)
    }
    rows.toDF("product_file", "product_fpath", "acquisition_date", "acquisition_time", "incidence_center")
  }

  test("property: date filter output is a subset and within bounds") {
    for (((dates, a), b) <- samples(Gen.listOfN(12, dateGen), 8)
           .zip(samples(dateGen, 8)).zip(samples(dateGen.map(_.plusDays(11)), 8))) {
      val (lo, hi) = if (a.isBefore(b)) (a, b) else (b, a)
      val cfg = CubeConfig(startDate = lo, endDate = hi)
      val df = layersOf(dates, dates.map(_ => "120000.000000"))
      val out = new CubePlanner(cfg).selectRequestedDates(df)
        .select("acquisition_date").collect().map(_.getString(0))
      val expected = dates.count(d => !d.isBefore(lo) && !d.isAfter(hi))
      assert(out.length == expected, s"dates=$dates lo=$lo hi=$hi")
      assert(out.forall { s =>
        val d = LocalDate.parse(s, java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
        !d.isBefore(lo) && !d.isAfter(hi)
      })
    }
  }

  test("property: dedup is idempotent and keeps the max-time row per date") {
    for (dates <- samples(Gen.listOfN(10, dateGen), 8)) {
      val times = dates.indices.map(i => f"${100000 + i * 111}%06d.000000")
      val planner = new CubePlanner(CubeConfig(temporalOverlap = false))
      val df = layersOf(dates, times)
      val once = planner.pruneTemporalOverlap(df)
      val twice = planner.pruneTemporalOverlap(once)
      assert(once.count() == dates.distinct.size)
      assert(twice.count() == once.count())
      val maxTimes = df.groupBy("acquisition_date").agg(max("acquisition_time").as("t"))
      val wrongWinners = once.join(maxTimes, Seq("acquisition_date"))
        .filter(col("acquisition_time") =!= col("t")).count()
      assert(wrongWinners == 0)
    }
  }

  test("property: n-day resample grid has (end-start)/n + 1 rows") {
    for ((n, span) <- samples(Gen.choose(1, 7), 8).zip(samples(Gen.choose(5L, 60L), 8))) {
      val start = LocalDate.of(2021, 4, 1)
      val end = start.plusDays(span)
      val cfg = CubeConfig(startDate = start, endDate = end, temporalResolution = n)
      val df = layersOf(Seq(start), Seq("120000.000000"))
      val out = new CubePlanner(cfg).setTemporalResolution(df)
      assert(out.count() == span / n + 1, s"n=$n span=$span")
    }
  }

  // ------------------------------------------------ edge-case layers

  private val Iso = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
  private val day0 = LocalDate.of(2021, 4, 1)

  /** A generated layer: every field the planner reads may be null. */
  private case class Layer(file: String, date: Option[LocalDate], time: Option[String],
      incidence: Option[Double], extent: Option[String])

  private val near = "POLYGON((21.0 47.1, 21.1 47.1, 21.1 47.0, 21.0 47.0, 21.0 47.1))"
  private val far = "POLYGON((90.0 12.1, 90.1 12.1, 90.1 12.0, 90.0 12.0, 90.0 12.1))"

  /** `n` layers with distinct, shuffled names; dates from a pool of 6
    * (so dates repeat), times from a 2-value pool (so times tie on a
    * date), and nulls at the given rates (1.0 = the whole column). */
  private def edgeLayers(n: Int, nullDates: Double, nullAngles: Double): Gen[Seq[Layer]] = for {
    names <- Gen.pick(n, 0 until 10 * n)
    order <- Gen.listOfN(n, Gen.choose(0, Int.MaxValue)).map(ks => names.zip(ks).sortBy(_._2).map(_._1))
    rows <- Gen.listOfN(n, for {
      d <- Gen.choose(0, 5).map(k => day0.plusDays(7L * k))
      dNull <- Gen.choose(0.0, 1.0).map(_ < nullDates)
      t <- Gen.frequency(3 -> Gen.oneOf("100000.000000", "120000.000000").map(Option(_)), 1 -> Gen.const(None))
      a <- Gen.choose(25.0, 35.0)
      aNull <- Gen.choose(0.0, 1.0).map(_ < nullAngles)
      e <- Gen.frequency(4 -> Gen.const(Option(near)), 1 -> Gen.const(Option(far)), 1 -> Gen.const(None))
    } yield (Option(d).filterNot(_ => dNull), t, Option(a).filterNot(_ => aNull), e))
  } yield order.toSeq.zip(rows).map { case (k, (d, t, a, e)) => Layer(f"p_$k%03d.tif", d, t, a, e) }

  private def one[A](g: Gen[A], seed: Long): A = g.apply(Gen.Parameters.default, Seed(seed)).get

  private def frameOf(ls: Seq[Layer]) =
    ls.map(l => (l.file, s"/x/${l.file}", l.date.map(_.format(Iso)), l.time, l.incidence, l.extent))
      .toDF("product_file", "product_fpath", "acquisition_date", "acquisition_time", "incidence_center", "extent")

  /** (date asc nulls last, product_file): the band order law. */
  private def bandOrder(ls: Seq[Layer]): Seq[String] =
    ls.sortBy(l => (l.date.fold(Long.MaxValue)(_.toEpochDay), l.file)).map(_.file)

  /** The planned rows by band_index, after checking it is 0..n-1. */
  private def plannedFiles(planned: org.apache.spark.sql.DataFrame): Seq[String] = {
    val rows = planned.select("band_index", "product_file").collect().map(r => r.getInt(0) -> r.getString(1))
    assert(rows.map(_._1).sorted.toSeq == rows.indices)
    rows.sortBy(_._1).map(_._2).toSeq
  }

  test("property: over null dates and null angles the plan is the filtered subset in band order") {
    val (lo, hi) = (day0.plusDays(7), day0.plusDays(28))
    val cfg = CubeConfig(startDate = lo, endDate = hi, minIncidenceAngle = 27.0, maxIncidenceAngle = 33.0)
    var (plans, keptNulls) = (0, 0)
    for (i <- 0 until 12) {
      val ls = one(edgeLayers(10, if (i % 3 == 0) 1.0 else 0.2, if (i % 4 == 0) 1.0 else 0.2), i)
      // F4: a filter applies only when its column has a non-null value
      val dated = if (ls.forall(_.date.isEmpty)) ls
        else ls.filter(_.date.exists(d => !d.isBefore(lo) && !d.isAfter(hi)))
      val angled = if (dated.forall(_.incidence.isEmpty)) dated
        else dated.filter(_.incidence.exists(a => a >= 27.0 && a <= 33.0))
      if (angled.isEmpty) {
        intercept[IllegalStateException](new CubePlanner(cfg).plan(frameOf(ls)))
      } else {
        val got = plannedFiles(new CubePlanner(cfg).plan(frameOf(ls)))
        assert(got.toSet.subsetOf(ls.map(_.file).toSet))
        assert(got == bandOrder(angled), s"sample $i: $ls")
        plans += 1
        if (angled.exists(l => l.date.isEmpty || l.incidence.isEmpty)) keptNulls += 1
      }
    }
    assert(plans >= 6 && keptNulls >= 2, s"plans=$plans keptNulls=$keptNulls")
  }

  test("property: dedup keeps the latest time per date, ties to the smallest product_file, null dates as one group") {
    def winners(ls: Seq[Layer]): Set[String] = ls.groupBy(_.date).values.map { g =>
      g.minBy(l => (l.time.fold(Double.MaxValue)(-_.toDouble), l.file)).file
    }.toSet
    var (timeTies, nullGroups) = (0, 0)
    for (i <- 0 until 8) {
      val ls = one(edgeLayers(12, 0.2, 0.0), i)
      val groups = ls.groupBy(_.date).values
      timeTies += groups.count(g => g.count(_.time == g.flatMap(_.time).maxOption) > 1)
      nullGroups += groups.count(g => g.size > 1 && g.head.date.isEmpty)
      val once = new CubePlanner(CubeConfig(temporalOverlap = false)).pruneTemporalOverlap(frameOf(ls))
      assert(once.select("product_file").collect().map(_.getString(0)).toSet == winners(ls), s"sample $i: $ls")
      // through plan: all-dated layers, so the date filter keeps them all
      val dated = ls.filter(_.date.nonEmpty)
      val planned = new CubePlanner(CubeConfig(temporalOverlap = false)).plan(frameOf(dated))
      assert(plannedFiles(planned) == bandOrder(dated.filter(l => winners(dated)(l.file))))
    }
    assert(timeTies >= 4 && nullGroups >= 2, s"timeTies=$timeTies nullGroups=$nullGroups")
  }

  test("property: resample keeps the grid row count with a null-date layer; two null dates are duplicates") {
    for ((n, span) <- samples(Gen.choose(1, 7), 8).zip(samples(Gen.choose(5L, 60L), 8))) {
      val cfg = CubeConfig(startDate = day0, endDate = day0.plusDays(span), temporalResolution = n)
      // every other grid date, the first included: all on both grids
      val onGrid = (0L to span by n.toLong).zipWithIndex.collect { case (o, k) if k % 2 == 0 => day0.plusDays(o) }
      val ls = onGrid.zipWithIndex.map { case (d, k) => Layer(s"p_$k.tif", Some(d), Some("120000.000000"), None, None) } :+
        Layer("p_null.tif", None, Some("120000.000000"), None, None)
      val out = new CubePlanner(cfg).setTemporalResolution(frameOf(ls))
      assert(out.count() == span / n + 1, s"n=$n span=$span")
      assert(out.filter(col("product_file").isNotNull).count() == onGrid.size)
      intercept[IllegalStateException] {
        new CubePlanner(cfg).setTemporalResolution(frameOf(ls :+ ls.last.copy(file = "p_null2.tif")))
      }
    }
  }

  test("property: overlap keeps what meets the earliest extent; a null earliest extent keeps nothing") {
    for (i <- 0 until 8) {
      val ls = one(edgeLayers(8, 0.2, 0.0), i)
      val primary = ls.minBy(l => (l.date.fold(Long.MaxValue)(_.toEpochDay), l.file))
      val want = primary.extent.fold(Set.empty[String])(p => ls.filter(_.extent.contains(p)).map(_.file).toSet)
      val got = new CubePlanner(CubeConfig(spaceOverlap = true)).selectOverlappingRasters(frameOf(ls))
        .select("product_file").collect().map(_.getString(0)).toSet
      assert(got == want, s"sample $i: $ls")
    }
    val ls = one(edgeLayers(8, 0.0, 0.0), 99)
    val earliest = ls.minBy(l => (l.date.get.toEpochDay, l.file))
    val nulled = ls.map(l => if (l eq earliest) l.copy(extent = None) else l.copy(extent = Some(near)))
    assert(new CubePlanner(CubeConfig(spaceOverlap = true)).selectOverlappingRasters(frameOf(nulled)).count() == 0)
  }
}
