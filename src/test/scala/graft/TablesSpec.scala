package graft

import java.io.File
import java.util.concurrent.{Callable, Executors}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The scan layer's metadata catalog: a read of an unchanged path reuses
  * its schema with no Spark job, a changed file or inference conf infers
  * again, and every parquet read in `src/main` goes through it. */
class TablesSpec extends SparkSpec {

  /** A fresh directory for the body, deleted afterwards. */
  private def withTmp[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toFile
    try body(dir.getPath) finally FileUtils.deleteQuietly(dir)
  }

  test("a second read of an unchanged path runs no Spark job and keeps its schema") {
    val path = s"$sfDir/customer.parquet"
    val first = Tables.parquet(spark, path).schema
    val (second, jobs) = sparkJobs(Tables.parquet(spark, path).schema)
    assert(jobs == 0, s"$jobs Spark jobs for a memoised read")
    assert(second == first)
    assert(second == spark.read.parquet(path).schema)
  }

  test("a path overwritten with another schema is read with the new schema") {
    withTmp { tmp =>
      val path = s"$tmp/t.parquet"
      spark.range(3).toDF("a").write.parquet(path)
      assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("a"))
      spark.range(4).selectExpr("CAST(id AS STRING) AS b", "id AS c")
        .write.mode("overwrite").parquet(path)
      val df = Tables.parquet(spark, path)
      assert(df.schema == spark.read.parquet(path).schema)
      assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
      assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2", "3"))
    }
  }

  test("flipping inferTimestampNTZ flips the inferred type of events.ts") {
    val path = s"$sfDir/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val ntz = Tables.parquet(spark, path).schema("ts").dataType
      spark.conf.set(key, "false")
      val ltz = Tables.parquet(spark, path).schema("ts").dataType
      spark.conf.set(key, "true")
      val again = Tables.parquet(spark, path).schema("ts").dataType
      assert((ntz, ltz, again) == ((TimestampNTZType, TimestampType, TimestampNTZType)))
    } finally spark.conf.set(key, before)
  }

  test("rowCount equals count() and follows a rewrite") {
    assert(Tables.rowCount(spark, sfDir, "customer") ==
      Tables(spark, sfDir, "customer").count())
    withTmp { tmp =>
      val path = s"$tmp/customer.parquet"
      spark.range(5).toDF("c_custkey").write.parquet(path)
      assert(Tables.rowCount(spark, tmp, "customer") == 5L)
      val (again, jobs) = sparkJobs(Tables.rowCount(spark, tmp, "customer"))
      assert((again, jobs) == ((5L, 0)), "a memoised count runs no job")
      spark.range(7).toDF("c_custkey").write.mode("overwrite").parquet(path)
      assert(Tables.rowCount(spark, tmp, "customer") == 7L)
    }
  }

  test("8 threads reading one new path get one schema from one inference") {
    withTmp { tmp =>
      val path = s"$tmp/t.parquet"
      spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS x")
        .coalesce(1).write.parquet(path)
      val pool = Executors.newFixedThreadPool(8)
      val (schemas, jobs) = try sparkJobs {
        (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = Tables.parquet(spark, path).schema
        })).map(_.get)
      } finally pool.shutdown()
      assert(schemas.distinct.size == 1)
      assert(schemas.head == spark.read.parquet(path).schema)
      assert(jobs == 1, s"$jobs footer inferences for one path")
    }
  }

  test("every src/main parquet read goes through Tables") {
    // `read.parquet(`, also spelled across lines or through
    // `.schema(..)`/`.option(..)`, and `read.format("parquet")`
    val batchRead = ("""\bread\s*(\.\s*(schema|option|options)\s*\([^)]*\)\s*)*""" +
      """\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""").r
    def sources(d: File): Seq[File] = Option(d.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val main = sources(new File("src/main/scala"))
    assert(main.size > 20, "source tree not found")
    val offenders = for {
      f <- main if f.getName != "Tables.scala"
      src = FileUtils.readFileToString(f, "UTF-8")
      m <- batchRead.findAllMatchIn(src)
    } yield s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, s"parquet reads outside Tables: ${offenders.mkString(", ")}")
  }
}
