package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The JVM's generated-class compiles so far: every miss of Spark's
  * codegen cache compiles one class with Janino. Callers take the
  * difference of two readings; a repeat of identical work should read 0
  * (see [[Sessions]] for what keeps it so). */
object Codegen {
  final case class Counts(compiles: Long, nanos: Long) {
    def -(o: Counts): Counts = Counts(compiles - o.compiles, nanos - o.nanos)
    def ms: Double = nanos / 1e6
  }

  /** The compile count of `CodegenMetrics`' compilation-time histogram
    * and the exact compile time the code generator sums beside it (the
    * histogram keeps only a sample of its values). The first reading
    * loads the code generator, which fixes its cache bound from the
    * active session's conf: read only once a session is active. */
  def counts: Counts =
    Counts(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
