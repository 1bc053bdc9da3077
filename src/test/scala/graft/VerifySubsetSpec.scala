package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** `graft.Verify <sf> <out> k1,k2` dumps just the listed keys and their
  * oracle entries, so tools/check.py can gate a subset on its own.
  */
class VerifySubsetSpec extends SparkSpec {

  test("a key list dumps exactly those parquet dirs and oracle entries") {
    val keys = Set("src_scan_project", "agg_group_summary")
    assert(keys.forall(SparkEntry.oracleSql.contains), "both keys must be oracled")
    val out = Files.createTempDirectory("graft_verify_subset").toFile
    try {
      val failed = Verify.dump(spark, sf, out.getPath, Some(keys))
      assert(failed.isEmpty, s"ops crashed: $failed")
      val dirs = out.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == keys)
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(out, "oracle_sql.json"))
      assert(json.fieldNames().asScala.toSet == keys)
      assert(keys.forall(k => json.get(k).asText() == SparkEntry.oracleSql(k)))
    } finally Tables.rmTree(out)
  }

  test("an unknown key fails before anything is written") {
    val out = Files.createTempDirectory("graft_verify_subset").toFile
    try {
      val e = intercept[IllegalArgumentException] {
        Verify.dump(spark, sf, out.getPath, Some(Set("agg_group_summary", "no_such_key")))
      }
      assert(e.getMessage.contains("no_such_key"))
      assert(out.listFiles().isEmpty)
    } finally Tables.rmTree(out)
  }
}
