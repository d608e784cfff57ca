package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-table-set N× scale-up generator — the sf1 testdata the driver
  * does not ship (r7 verdict #2: "the full query surface has never run
  * above sf0.1"). Writes a COMPLETE, FK-consistent copy of every
  * testdata table at ~N× the base scale factor, so the whole 230-query
  * Verify + DuckDB-oracle sweep can run against it unchanged:
  *
  *   sbt -batch "runMain graft.GenScale /root/testdata/sf0.1 10 /tmp/graft-sf1"
  *   sbt -batch "runMain graft.Verify /tmp/graft-sf1 /tmp/v_sf1"
  *   python3 tools/check_oracle.py /tmp/graft-sf1 /tmp/v_sf1
  *
  * Scaling semantics follow ScaleProbe's documented re-keying (which
  * covers only the 4 tables its 12 probes need; this emits all 10):
  * every copy i gets disjoint key spaces — orderkeys/event ids/doc ids/
  * vec ids shift by i·10⁹, customer/supplier/part keys by i·10⁷ — with
  * FK pairs shifted by the SAME offsets on both sides, so per-copy join
  * density, group structure and graph degree stay constant while rows,
  * distinct keys, edges and state volume grow ×N. Dimension-content
  * transforms keep value spaces growing honestly instead of stacking
  * N-deep duplicates: document text gets the per-copy alphabet rotation
  * (length-preserving bijection — vocabulary, shingle and signature
  * spaces grow ~×N), embeddings get a per-copy circular coordinate
  * shift (norm-preserving — no cross-copy exact-duplicate vectors to
  * tie-break). region/nation stay fixed (TPC-H semantics: dimensions
  * don't scale with sf).
  *
  * The alphabet rotation is deliberately ADVERSARIAL for vocabulary
  * operators: it splits the corpus into N disjoint token spaces, so
  * every token's document-frequency FRACTION shrinks ×N — whereas a
  * real corpus keeps common-token df fractions roughly constant as it
  * grows ("the" is ~60% of English documents at any scale). Both
  * postures matter: rotation stresses signature/dedup spaces honestly;
  * a 4th arg `norotate` keeps document text verbatim per copy
  * (df-preserving — the realistic scaling for vocab/OOV operators like
  * q136/q139, whose df≥10% thresholds are scale-invariant under it).
  * Tables already present in outDir with MATCHING generation params
  * (per the _SUCCESS + _genscale_params markers) are skipped; a
  * parameter change (different base/copies/rotate) regenerates that
  * table instead of silently keeping old-scale data. A rotated set
  * thus converts to `norotate` by re-running with the flag — only
  * documents.parquet (whose params changed) is rewritten. Note the
  * rotation is periodic: beyond 26 copies rotation classes repeat
  * (copy 26 is verbatim copy-0 text) — deliberate adversarial posture
  * for the 30×–100× knee probes, warned at runtime.
  */
object GenScale {
  private val Offset = 1000000000L
  private val SmallOffset = 10000000L

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse(s"/tmp/graft-sf1")
    val rotate = !args.lift(3).contains("norotate")
    val spark = graft.core.Catalog.newSession()

    if (rotate && copies > 26)
      System.err.println(s"[genscale] WARNING: copies=$copies > 26 - the " +
        "alphabet rotation has 26 states, so rotation classes REPEAT " +
        "(copy 26 is byte-identical text to copy 0): shingle dfs grow " +
        "~ceil(N/26)x and cross-copy duplicate cliques appear. That is " +
        "the ADVERSARIAL posture the 30x-100x knee probes exploit " +
        "(SCALE.md); it is NOT the no-verbatim-duplicates posture of " +
        "copies <= 26.")

    def writeCopies(name: String, nCopies: Int,
        copyOf: (DataFrame, Int) => DataFrame, extraParams: String = ""): Unit = {
      val path = s"$outDir/$name.parquet"
      val params = s"base=$baseDir copies=$nCopies$extraParams"
      val marker = java.nio.file.Paths.get(s"$path/_genscale_params")
      val upToDate =
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS")) &&
          java.nio.file.Files.exists(marker) &&
          java.nio.file.Files.readString(marker) == params
      if (!upToDate) {
        // regenerate on a parameter change: the old _SUCCESS-only check
        // silently kept 10x data when re-run with copies=100
        val base = graft.core.Catalog.table(spark, baseDir, name)
        val parts = if (nCopies == 1) 1 else 32
        (0 until nCopies).map(i => copyOf(base, i)).reduce(_ unionByName _)
          .repartition(parts).write.mode("overwrite").parquet(path)
        java.nio.file.Files.writeString(marker, params)
        println(s"[genscale] $name -> $path")
      } else println(s"[genscale] $name -> $path (up to date, skipped)")
    }
    def write(name: String, copyOf: (DataFrame, Int) => DataFrame,
        extraParams: String = ""): Unit =
      writeCopies(name, copies, copyOf, extraParams)

    // fixed dimensions (TPC-H semantics): one verbatim copy, one file
    writeCopies("region", 1, (df, _) => df)
    writeCopies("nation", 1, (df, _) => df)

    write("customer", (df, i) => df
      .withColumn("c_custkey", col("c_custkey") + lit(i * SmallOffset)))
    write("supplier", (df, i) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(i * SmallOffset)))
    write("part", (df, i) => df
      .withColumn("p_partkey", col("p_partkey") + lit(i * SmallOffset)))
    write("orders", (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * Offset))
      .withColumn("o_custkey", col("o_custkey") + lit(i * SmallOffset)))
    write("lineitem", (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * Offset))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * SmallOffset))
      .withColumn("l_partkey", col("l_partkey") + lit(i * SmallOffset)))
    // user_id references c_custkey/o_custkey (q33/q92/q120 join them):
    // it must shift by the SAME SmallOffset as the customer re-key, or
    // only copy 0's events would ever match a dimension row and join
    // density would SHRINK xN instead of staying constant
    write("events", (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * Offset))
      .withColumn("user_id", col("user_id") + lit(i * SmallOffset)))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write("documents", (df, i) => {
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * Offset))
      if (rotate) shifted.withColumn("text",
        translate(col("text"), alpha, alpha.drop(i % 26) + alpha.take(i % 26)))
      else shifted
    }, extraParams = s" rotate=$rotate")
    write("embeddings", (df, i) => {
      val shifted = df
        .withColumn("vec_id", col("vec_id") + lit(i * Offset))
      if (i == 0) shifted
      else {
        // circular shift by k ∈ 1..63 of the 64-dim vectors:
        // norm-preserving and DISTINCT per copy for up to 64 copies.
        // (A previous i % 8 shift repeated at copies 8/9, handing those
        // copies byte-identical vectors — cross-copy exact duplicates
        // that created similarity ties the doc comment promises away.)
        val k = (i - 1) % 63 + 1
        shifted.withColumn("embedding", expr(
          s"concat(slice(embedding, $k + 1, size(embedding) - $k), " +
            s"slice(embedding, 1, $k))"))
      }
    })
    spark.stop()
  }
}
