package graft.functions

import graft.SparkTestBase

/** Driver-side footer-schema memo of the admission-store reads: only
  * definitive footer reads are cached.
  */
class AdmissionSchemaSpec extends SparkTestBase {
  import spark.implicits._

  test("a failed footer read is not memoized: the next read of the " +
    "same (path, len) resolves the schema") {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = tmpDir("admschema-src")
    Seq((0L, 1, "k")).toDF("doc_id", "band", "band_key").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .find(_.getPath.getName.endsWith(".parquet")).get
    val target = new org.apache.hadoop.fs.Path(tmpDir("admschema-dst"),
      "late.parquet")
    // the first read fails (the file is not there yet — a stand-in for
    // a transient filesystem error): no schema, and nothing memoized
    assert(AdmissionSchema.of(conf, Seq((target, file.getLen))).isEmpty)
    assert(fs.rename(file.getPath, target))
    // the second read of the same (path, len) resolves the footer
    val schema = AdmissionSchema.of(conf, Seq((target, file.getLen)))
    assert(schema.map(_.fieldNames.toSeq)
      === Some(Seq("doc_id", "band", "band_key")),
      s"a failed read was cached: $schema")
  }
}
