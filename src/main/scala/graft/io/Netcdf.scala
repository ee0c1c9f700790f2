package graft.io

import graft.core.Cube
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** netCDF4 cube interop — reads the reference's own persistence format
  * (S12: `datacube.py:203-212` writes cubes with `xr.Dataset.to_netcdf`;
  * read-back semantics `datacube.py:30-39`).
  *
  * A netCDF4 file IS an HDF5 container plus conventions, so this reads
  * through [[Hdf5]]:
  *   - coordinate datasets carry a `CLASS="DIMENSION_SCALE"` attribute;
  *     the cube dims are `Band`/`Azimuth`/`Range`
  *     (`datacube_variables.py:9-11`);
  *   - the Band axis is CF-encoded time (integers + a
  *     `units = "<resolution> since <epoch>"` attribute — xarray's
  *     datetime64 encoding) → `band_time` timestamps;
  *   - every other rank-3 dataset is a data variable (`Intensity`,
  *     `Real`, `Complex`, `Labels`) → one lower-cased pixel column each,
  *     long format, layer-major;
  *   - per-variable dict-of-lists attrs (`sar_datacube.py:159-188`:
  *     one list entry per layer) become per-layer metadata; root attrs
  *     become cube attrs. netCDF bookkeeping attrs (DIMENSION_LIST /
  *     REFERENCE_LIST object references) are skipped by the attribute
  *     parser by construction.
  *
  * Scale posture: structure/attrs parse on the driver (KBs); the pixel
  * decode is DISTRIBUTED — one task per band re-opens the file through
  * the Hadoop FileSystem of its scheme ([[HadoopFiles.withFile]], as
  * the driver does) and reads only its plane through
  * [[Hdf5.File.readSlice0]], so no single process ever materializes the
  * cube. Persist to the parquet [[CubeStore]] layout for repeated
  * distributed work; this is the interop import.
  */
object Netcdf {

  private val DimNames = Set("Band", "Azimuth", "Range")

  /** CF time units → (epoch micros, micros per unit). Nanoseconds use a
    * fractional scale handled separately (1/1000). */
  private[io] def cfUnits(units: String): (Long, Double) = {
    val parts = units.split(" since ", 2)
    require(parts.length == 2, s"not a CF time units string: '$units'")
    val perMicros: Double = parts(0).trim.toLowerCase match {
      case "days"         => 86400e6
      case "hours"        => 3600e6
      case "minutes"      => 60e6
      case "seconds"      => 1e6
      case "milliseconds" => 1e3
      case "microseconds" => 1.0
      case "nanoseconds"  => 1e-3
      case u => throw new IllegalArgumentException(s"unsupported CF time unit '$u'")
    }
    // strip a trailing timezone designator — real CF producers write
    // "… 00:00:00 UTC", "…Z" or "…+00:00" (netCDF-java, CDO); non-UTC
    // offsets are folded into the epoch via OffsetDateTime
    val noZone = parts(1).trim
      .replaceAll("(?i)\\s*(UTC|GMT|Z)$", "")
    val offsetMatch = "([+-]\\d{2}:?\\d{2})$".r.findFirstIn(noZone)
    val raw = offsetMatch.map(o => noZone.dropRight(o.length).trim)
      .getOrElse(noZone).replace(" ", "T")
    val base =
      if (raw.contains("T")) java.time.LocalDateTime.parse(raw)
      else java.time.LocalDate.parse(raw).atStartOfDay()
    val ldt = offsetMatch match {
      case Some(o) =>
        val off = java.time.ZoneOffset.of(if (o.contains(":")) o else o.take(3) + ":" + o.drop(3))
        base.atOffset(off).withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
      case None => base
    }
    val epochMicros = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      ldt.getNano / 1000L
    (epochMicros, perMicros)
  }

  def readCube(spark: SparkSession, path: String): Cube = {
    val sc = spark.sparkContext
    HadoopFiles.withFile(path, sc.hadoopConfiguration, payload = false) { (read, _) =>
      val f = new Hdf5.File(read)
      val entries = f.rootEntries
      val attrsOf: Map[String, Map[String, Hdf5.AttrValue]] =
        entries.map { case (n, a) => n -> f.attributes(a).toMap }.toMap
      def strAttr(ds: String, key: String): Option[String] =
        attrsOf.getOrElse(ds, Map.empty).get(key).collect {
          case Hdf5.AttrStr(vs) => vs.headOption.getOrElse("")
        }
      def isScale(n: String): Boolean =
        strAttr(n, "CLASS").contains("DIMENSION_SCALE") || DimNames(n)

      // --- Band axis: CF time decode ---
      val byName = entries.toMap
      val bandTimesMicros: Array[Long] = byName.get("Band").map { a =>
        val ds = f.dataset("Band", a)
        val raw = f.readDoubles(ds)
        strAttr("Band", "units") match {
          case Some(units) =>
            val (epoch, per) = cfUnits(units)
            raw.map(v => epoch + math.round(v * per))
          case None => raw.map(_.toLong) // already epoch micros
        }
      }.getOrElse(Array.empty)

      // --- data variables: rank-3 (Band, Azimuth, Range), non-scale.
      // Entries that are not parseable datasets — child groups, compound/
      // reference dtypes — are skipped, not fatal: a file with extra
      // groups alongside the cube variables still imports. ---
      val dataVars = entries
        .filter { case (n, _) => !isScale(n) }
        .flatMap { case (n, a) =>
          scala.util.Try(f.dataset(n, a)).toOption.map(d => (n, d)) }
        .filter(_._2.dims.size == 3)
      require(dataVars.nonEmpty, s"$path: no rank-3 data variables found")
      val Seq(nBands, az, rg) = dataVars.head._2.dims.map(_.toInt)
      dataVars.foreach { case (n, d) =>
        require(d.dims.map(_.toInt) == Seq(nBands, az, rg),
          s"$path: variable $n dims ${d.dims} disagree with (${nBands}, $az, $rg)")
      }

      // --- pixels: long format, DISTRIBUTED band-plane decode — one task
      // per band re-opens the file through its FileSystem and reads
      // only its plane via readSlice0 (contiguous: one ranged read;
      // chunked: intersecting chunks only). Neither the driver nor any
      // task ever holds more than one plane per variable. ---
      val varCols = dataVars.map(_._1.toLowerCase)
      val varDs = dataVars.map(_._2)
      val pixelSchema = StructType(
        Seq(StructField("band_index", IntegerType), StructField("band_time", TimestampType),
          StructField("azimuth", IntegerType), StructField("range", IntegerType)) ++
          varCols.map(c => StructField(c, DoubleType)))
      val bandMicros = bandTimesMicros
      val ncPath = path
      val rgW = rg
      val azW = az
      val parallelism = sc.defaultParallelism
      val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
      val pixelRdd = sc
        .parallelize(0 until nBands, math.max(1, math.min(parallelism, nBands)))
        .flatMap { b =>
          HadoopFiles.withFile(ncPath, conf.value.value, payload = true) { (bread, _) =>
            val bf = new Hdf5.File(bread)
            val planes = varDs.map(d => bf.readSlice0(d, b.toLong))
            val ts = if (b < bandMicros.length)
              java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
                bandMicros(b), java.time.temporal.ChronoUnit.MICROS))
            else null
            val rows = new Array[Row](azW * rgW)
            var a = 0
            while (a < azW) {
              var r = 0
              while (r < rgW) {
                val i = a * rgW + r
                rows(i) = Row.fromSeq(Seq(b, ts, a, r) ++ planes.map { vs =>
                  val v = vs(i)
                  if (v.isNaN) null else v
                })
                r += 1
              }
              a += 1
            }
            rows.toSeq
          }
        }
      val pixels = spark.createDataFrame(pixelRdd, pixelSchema)

      // --- layers: per-band metadata from dict-of-lists variable attrs ---
      val metaPerBand: Seq[Map[String, String]] = (0 until nBands).map { b =>
        dataVars.flatMap { case (n, _) =>
          attrsOf.getOrElse(n, Map.empty).collect {
            case (k, Hdf5.AttrStr(vs)) if !k.startsWith("_") && k != "CLASS" && k != "NAME" =>
              k -> (if (vs.length == nBands) vs(b) else vs.mkString(","))
            case (k, Hdf5.AttrNum(vs)) if !k.startsWith("_") =>
              k -> (if (vs.length == nBands) fmtNum(vs(b)) else vs.map(fmtNum).mkString(","))
          }
        }.toMap
      }
      val layerSchema = StructType(Seq(
        StructField("product_file", StringType), StructField("product_fpath", StringType),
        StructField("incidence_center", DoubleType), StructField("look_side", StringType),
        StructField("orbit_direction", StringType), StructField("extent", StringType),
        StructField("acquisition_date", StringType), StructField("acquisition_time", StringType),
        StructField("number_of_azimuth_samples", IntegerType),
        StructField("number_of_range_samples", IntegerType),
        StructField("band_index", IntegerType), StructField("band_time", TimestampType),
        StructField("metadata", MapType(StringType, StringType))))
      val layerRows = (0 until nBands).map { b =>
        val m = metaPerBand(b)
        val ts = if (b < bandTimesMicros.length)
          java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
            bandTimesMicros(b), java.time.temporal.ChronoUnit.MICROS))
        else null
        Row(
          m.get("product_file").orNull, null,
          m.get("incidence_center").flatMap(_.toDoubleOption).orNull,
          m.get("look_side").orNull, m.get("orbit_direction").orNull,
          m.get("extent").orNull, m.get("acquisition_date").orNull,
          m.get("acquisition_time").orNull,
          m.get("number_of_azimuth_samples").flatMap(_.toIntOption).getOrElse(az),
          m.get("number_of_range_samples").flatMap(_.toIntOption).getOrElse(rg),
          b, ts, m)
      }
      val layers = spark.createDataFrame(
        sc.parallelize(layerRows, 1), layerSchema)

      // --- cube attrs: root attributes + dims. "_"-prefixed bookkeeping
      // attrs (netCDF-C writes _NCProperties at root) are library
      // provenance, not cube metadata — same filter as the per-variable
      // parser, else they leak into exports and toNetcdf re-emission ---
      val rootAttrs = f.rootAttributes.collect {
        case (k, Hdf5.AttrStr(vs)) if !k.startsWith("_") => k -> vs.mkString(",")
        case (k, Hdf5.AttrNum(vs)) if !k.startsWith("_") => k -> vs.map(fmtNum).mkString(",")
      }.toMap
      Cube(layers, pixels, rootAttrs ++ Map(
        "master_azimuth" -> az.toString, "master_range" -> rg.toString))
    }
  }

  /** Integral doubles print without the ".0" (attr values were ints). */
  private def fmtNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
