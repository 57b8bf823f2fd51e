package graft

/** `Harness verify <sfDir> <outDir> [q,...]` under its long-standing
  * entry-point name. */
object Verify {
  def main(args: Array[String]): Unit = Harness.main("verify" +: args)
}
