package graft

import graft.core.Tables
import graft.tools.ScaleStage

/** A staged tier grows the dims that filter on a bounded value domain:
  * q_bloom_join's `p_name LIKE 'red %'` dim must be K× at K×. */
class ScaleStageSpec extends SparkSpec {

  test("a staged ×3 tier has 3× the parts whose name starts with 'red '") {
    val out = tmpDir()
    try {
      ScaleStage.stage(spark, sf(), out, 3)
      def red(dir: String): Long =
        Tables(spark, dir, "part").where("p_name LIKE 'red %'").count()
      val base = red(sf())
      assert(base > 0)
      assert(red(out) == 3 * base)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
