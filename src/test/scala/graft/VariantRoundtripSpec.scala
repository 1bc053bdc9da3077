package graft

/** Contract of `json_variant_roundtrip` (r14, the r13 verdict's item 7):
  * the write half of the Spark 4 VARIANT story. The persisted table must
  * actually store VariantType (not a string/struct fallback — the whole
  * point is exercising Spark 4.1's parquet variant storage), and the
  * typed reads over the RELOADED values must equal the in-flight decode
  * key's aggregate (the DuckDB oracle pins the same numbers from the
  * raw JSON strings at the driver's gate).
  */
class VariantRoundtripSpec extends SparkSpec {

  test("variant column round-trips parquet as VariantType and reloaded reads match the decode key") {
    Tables.rmTree(new java.io.File(ops.Scalars.variantDir(spark, sf)))

    val rt = SparkEntry.queries("json_variant_roundtrip")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rt.nonEmpty, "round-trip aggregate is empty")

    // The persisted physical schema is genuinely VariantType.
    val reloaded = spark.read.parquet(ops.Scalars.variantDir(spark, sf))
    val vField = reloaded.schema("v")
    assert(vField.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType],
      s"persisted 'v' column is ${vField.dataType}, not VariantType — the write fell back")

    // Reloaded-typed-read aggregate ≡ the in-flight decode key's.
    val dec = SparkEntry.queries("json_variant_decode")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rt == dec, "reloaded variant aggregate diverged from the in-flight decode")

    // Warm serve: the committed artifact answers without a rewrite.
    val mtimes = Option(new java.io.File(ops.Scalars.variantDir(spark, sf)).listFiles())
      .getOrElse(Array.empty).map(f => f.getName -> f.lastModified()).toMap
    val again = SparkEntry.queries("json_variant_roundtrip")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(again == rt, "re-invocation changed the round-trip answer")
    Option(new java.io.File(ops.Scalars.variantDir(spark, sf)).listFiles())
      .getOrElse(Array.empty).foreach { f =>
        assert(mtimes.get(f.getName).contains(f.lastModified()),
          s"warm serve rewrote ${f.getName}")
      }
  }
}
