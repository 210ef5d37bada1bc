package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards that keep folded skeletons folded: the
  * session-shared artifact memo lives only in `ExtQueries.sharedArtifact`,
  * the prior-batch probe only in `StreamingDedup.priorBatches`, and every
  * streaming `__batch=<id>` landing goes through `landBatchChecked`.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  private def sources(under: Path): Seq[Path] = {
    val walk = Files.walk(under)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }
  private def read(p: Path) = new String(Files.readAllBytes(p), UTF_8)

  /** `src` with the span from `from` through the brace block opened
    * after `to` cut out; fails when either anchor is missing.
    */
  private def without(src: String, from: String, to: String): String = {
    val start = src.indexOf(from)
    val anchor = src.indexOf(to, math.max(start, 0))
    assert(start >= 0 && anchor >= 0, s"anchor '$from' … '$to' not found")
    var i = src.indexOf('{', anchor)
    var depth = 0
    do {
      if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
      i += 1
    } while (depth > 0)
    src.substring(0, start) + src.substring(i)
  }

  test("one prior-batch probe: where(col(\"__batch\") < appears only in priorBatches") {
    val probe = "where(col(\"__batch\") <"
    val owner = mainRoot.resolve("graft/streaming/StreamingDedup.scala")
    val ownerSrc = read(owner)
    val cut = without(ownerSrc, "def priorBatches", "def priorBatches")
    assert(ownerSrc.split(java.util.regex.Pattern.quote(probe), -1).length - 1 === 1,
      "priorBatches must hold the one probe")
    val offenders = sources(mainRoot).filter(p =>
      (if (p == owner) cut else read(p)).contains(probe))
    assert(offenders.isEmpty, s"prior-index probe copied outside priorBatches: $offenders")
  }

  test("every streaming __batch=<id> partition landing goes through landBatchChecked") {
    val plain = """\.parquet\(s"[^"]*/__batch=\$batchId"\)""".r
    val offenders = sources(mainRoot.resolve("graft/streaming"))
      .filter(p => plain.findFirstIn(read(p)).isDefined)
    assert(offenders.isEmpty, s"unchecked __batch= landing in: $offenders")
  }

  test("one artifact memo: ExtQueries keys and memoizes only in sharedArtifact") {
    val src = read(mainRoot.resolve("graft/ext/ExtQueries.scala"))
    val rest = without(src, "private val artifactMemo", "def sharedArtifact")
    for (copy <- Seq("applicationId + \"@\"", "new java.util.concurrent.ConcurrentHashMap"))
      assert(!rest.contains(copy), s"'$copy' outside sharedArtifact in ExtQueries")
  }
}
