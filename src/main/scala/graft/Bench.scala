package graft

/** `Harness board` under its long-standing entry-point name; the sf dir
  * comes from SPARK_GRAFT_SF_DIR. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Harness.main(Array("board", sfDir))
  }
}
