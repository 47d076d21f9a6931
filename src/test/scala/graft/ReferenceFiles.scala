package graft

/** The reference implementation's data, qrels and run files that the
  * golden specs read. They are not part of this repository; a missing
  * file fails the calling test with one message that names it.
  */
object ReferenceFiles {
  private val Root = "/root/reference"

  def path(relative: String)(implicit pos: org.scalactic.source.Position): String = {
    val p = s"$Root/$relative"
    if (!new java.io.File(p).exists())
      org.scalatest.Assertions.fail(s"reference file not found: $p")
    p
  }
}
