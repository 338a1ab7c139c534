package graft

import org.apache.spark.sql.Row
import graft.operators.SimilarityOps

/** s8's kernel/declarative law (the FnsSpec / PipeKernelLawSpec
  * discipline: every typed kernel has a declarative twin pinned
  * row-identical, so the scan-speed form can never drift from the
  * oracle-shaped one).
  *
  * The kernel index build ([[SimilarityOps.ivfpqEncode]]) computes the
  * coarse cell and the PQ code with both models as task-closure
  * literals; the twin computes the SAME cells via the s3 centroid-join
  * + row_number idiom and the SAME codes via [[SimilarityOps
  * .pqEncode]], then both feed the shared serve path. Any FP-order or
  * tie-break mismatch between the kernel loops and the declarative
  * expressions surfaces here as a row difference — before the DuckDB
  * oracle would catch it at sf0.01. */
class IvfPqSpec extends SparkSpec {

  test("s8 ivfpq: the fused model-as-literal kernel index serves " +
    "row-identically to the declarative model-as-join twin") {
    val served: Set[Row] =
      SparkEntry.queries("s8_ann_ivfpq")(spark, sf).collect().toSet
    val twin: Set[Row] =
      SimilarityOps.s8DeclarativeTwin(spark, sf).collect().toSet
    assert(served.nonEmpty)
    assert(served == twin)
  }

  test("s6 recall report prices the composed path beside its " +
    "constituents with a sane integer-ppm recall") {
    val rows = SparkEntry.queries("s6_ann_recall")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows.contains("s8_ann_ivfpq"))
    // composition can only lose recall vs exact; ppm stays in range
    assert(rows("s8_ann_ivfpq") >= 0L && rows("s8_ann_ivfpq") <= 1000000L)
    // the report carries every served variant + the np1 curve point
    assert(Set("s2_ann_lsh", "s3_ann_ivf_np1", "s3_ann_ivf",
      "s5_ann_pq", "s7_ann_sq", "s8_ann_ivfpq").subsetOf(rows.keySet))
  }
}
