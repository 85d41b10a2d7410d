package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.core.{Fs, Json}

/** A committed stage of a [[Stages]] directory: where its output lives,
  * the key it was built under and the row count its manifest records
  * (-1 for an output that is not one table: a model, a JSON sidecar)
  * and the aggregates observed on its write job (NaN where the aggregate
  * was null or not finite). `built` is true when this run wrote it;
  * `schema` is the schema a parquet stage built by this run wrote.
  */
final class Stage private[pipeline] (spark: SparkSession, val path: String,
    val key: String, build: String, val rows: Long, val observed: Map[String, Double],
    val built: Boolean, val schema: Option[StructType] = None) {
  /** The stage's parquet output, read once. With the written schema
    * known the read infers none, so it runs no Spark job.
    */
  lazy val df: DataFrame = schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)

  /** What a downstream key holds: the key AND the build that wrote the
    * output, so a rebuild for any reason (a forced run, a lost manifest)
    * rebuilds everything downstream too.
    */
  private[pipeline] def version: String = s"$key@$build"
}

/** The durable stage layer of one directory — an outDir, or an appended
  * batch's delta dir. The reference's Luigi tasks skip when their target
  * exists (SURVEY §2.12; split.py:48,56,65) and never look at their
  * inputs; here a stage skips when its target was built from the SAME
  * inputs. Reuse is one explicit layer keyed by what was read (the move
  * the session artifacts made, EDBT 2020 "Incremental ... Interactive
  * Data Analysis Sessions").
  *
  * KEY = SHA-256 of the stage's name, its typed params, the versions of
  * its upstream stages and, for a stage that reads from outside the
  * directory, the input fingerprint ([[Fs.fingerprint]]: path, length
  * and mtime of every input file). A changed input or param rebuilds
  * that stage and, through the versions, every stage downstream of it.
  *
  * MANIFEST = `dir/_stages/<name>.json`: key, build id, rows, build
  * seconds and observed aggregates. A rebuild deletes it first and
  * writes it after the output commits, as the stage's last write — a
  * run that dies anywhere in between leaves no manifest, and the next
  * run rebuilds the stage.
  * A stage whose manifest holds its key is read, not rebuilt, and its
  * row count comes from the manifest; `force` rebuilds every stage.
  */
final class Stages(spark: SparkSession, dir: String, force: Boolean = false) {

  def path(name: String): String = s"$dir/$name"

  private def manifest(name: String): String = s"$dir/_stages/$name.json"

  def key(name: String, params: Seq[Any], deps: Seq[Stage], inputs: Seq[String]): String = {
    val typed = params.map(p => s"${p.getClass.getName}:$p")
    val fps = inputs.map(i => i -> Fs.fingerprint(spark, i))
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$name|$typed|${deps.map(_.version)}|$fps".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** Stage `name` as its manifest records it; None without one. */
  def committed(name: String): Option[Stage] =
    (try Some(Fs.readString(spark, manifest(name)))
     catch { case _: java.io.FileNotFoundException => None }).map { m =>
      def f(k: String) = Json.field(m, k).getOrElse(
        throw new IllegalStateException(s"stage manifest ${manifest(name)} lacks $k"))
      new Stage(spark, path(name), f("key"), f("build"), f("rows").toLong,
        Json.numbers(m, "observed"), built = false)
    }

  /** Stage `name`: read when its manifest holds its key, else `build`
    * (which writes the output and returns its rows), then `after` (a
    * sidecar of the written stage), then commit.
    */
  def apply(name: String, params: Seq[Any] = Nil, deps: Seq[Stage] = Nil,
            inputs: Seq[String] = Nil, after: Stage => Unit = _ => ())
           (build: => Long): Stage =
    stage(name, params, deps, inputs, after)((build, Map.empty, None))

  private def stage(name: String, params: Seq[Any], deps: Seq[Stage], inputs: Seq[String],
                    after: Stage => Unit)
                   (build: => (Long, Map[String, Double], Option[StructType])): Stage = {
    val k = key(name, params, deps, inputs)
    committed(name).filter(s => !force && s.key == k).getOrElse {
      Fs.delete(spark, manifest(name))
      val t0 = System.nanoTime()
      val b = java.util.UUID.randomUUID.toString
      val (rows, observed, schema) = build
      val stage = new Stage(spark, path(name), k, b, rows, observed, built = true, schema)
      after(stage)
      val secs = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      val obs = if (observed.isEmpty) "" else s""", "observed": ${Json.numbers(observed.toSeq.sorted)}"""
      Fs.writeString(spark, manifest(name),
        s"""{"key": "$k", "build": "$b", "rows": $rows, "secs": $secs$obs}""")
      stage
    }
  }

  /** A parquet stage at `path(name)`. Its rows, and each `observe`
    * aggregate (cast to double), are computed by an observation on the
    * write job itself, not by a second action, and kept in the manifest:
    * [[Stage.observed]] holds them whether the stage was built or read.
    * The observed names are part of the key, so a manifest committed
    * without them is rebuilt, never read with them missing. A built
    * stage carries the schema it wrote, as parquet reads it back (every
    * field nullable), so reading it back infers nothing.
    */
  def parquet(name: String, params: Seq[Any] = Nil, deps: Seq[Stage] = Nil,
              inputs: Seq[String] = Nil, sidecar: Stage => Unit = _ => (),
              observe: Map[String, Column] = Map.empty)
             (compute: => DataFrame): Stage = {
    val names = observe.keys.toSeq.sorted
    stage(name, if (names.isEmpty) params else params :+ names, deps, inputs, sidecar) {
      val obs = Observation()
      val aggs = names.map(n => observe(n).cast("double").as(n))
      val df = compute
      df.observe(obs, count(lit(1)).as("n"), aggs: _*)
        .write.mode(SaveMode.Overwrite).parquet(path(name))
      val got = obs.get
      (got("n").asInstanceOf[Long], names.map(n => n -> (got(n) match {
        case v: java.lang.Double if java.lang.Double.isFinite(v) => v.doubleValue
        case _ => Double.NaN // null (an average over no rows) or not finite
      })).toMap, Some(Stages.nullable(df.schema).asInstanceOf[StructType]))
    }
  }
}

object Stages {
  /** `t` with every field, array element and map value nullable: the
    * schema a parquet file written from `t` reads back as.
    */
  private[pipeline] def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
