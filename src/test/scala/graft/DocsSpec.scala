package graft

import org.scalatest.funsuite.AnyFunSuite

/** Documentation-drift gates. OPERATORS.md's preamble states the registered
  * and oracle-bearing query counts; two rounds running those numbers went
  * stale the moment a query landed after the doc edit. Deriving the check
  * from `SparkEntry` makes the doc physically unable to drift: any new
  * QueryDef fails this spec until the preamble is updated. The same
  * holds for the one session factory: a new `SparkSession.builder` in
  * main code fails here, as does a second XML factory or a
  * `parallelize` of driver rows. */
class DocsSpec extends AnyFunSuite {

  private val operatorsMd = {
    val p = java.nio.file.Paths.get("OPERATORS.md")
    assert(java.nio.file.Files.exists(p), "OPERATORS.md must exist at repo root")
    java.nio.file.Files.readString(p)
  }

  test("OPERATORS.md preamble counts match SparkEntry exactly") {
    val re = """All (\d+) oracle-bearing queries \(of (\d+) registered\)""".r
    val m = re.findFirstMatchIn(operatorsMd).getOrElse(
      fail("OPERATORS.md preamble must state 'All N oracle-bearing queries (of M registered)'"))
    val docOracle = m.group(1).toInt
    val docRegistered = m.group(2).toInt
    assert(docRegistered == SparkEntry.queries.size,
      s"OPERATORS.md says $docRegistered registered; code has ${SparkEntry.queries.size}")
    assert(docOracle == SparkEntry.oracleSql.size,
      s"OPERATORS.md says $docOracle oracle-bearing; code has ${SparkEntry.oracleSql.size}")
  }

  test("README verification counts match SparkEntry exactly") {
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val re = """Every oracle-expressible query \((\d+) of (\d+)\)""".r
    val m = re.findFirstMatchIn(readme).getOrElse(
      fail("README.md must state 'Every oracle-expressible query (N of M)'"))
    assert(m.group(1).toInt == SparkEntry.oracleSql.size,
      s"README says ${m.group(1)} oracle-bearing; code has ${SparkEntry.oracleSql.size}")
    assert(m.group(2).toInt == SparkEntry.queries.size,
      s"README says ${m.group(2)} registered; code has ${SparkEntry.queries.size}")
  }

  test("every oracle-bearing query name is registered (no orphan oracle SQL)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  /** Main-code files naming `token` in a non-comment line (a usage
    * example in scaladoc is fine). */
  private def mainFilesUsing(token: String): Seq[String] = {
    def uses(src: String): Boolean = src.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .exists(_.contains(token))
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => uses(java.nio.file.Files.readString(p)))
        .map(_.toString).toSeq
    } finally stream.close()
  }

  test("main code builds sessions only through Engine.session") {
    val builders = mainFilesUsing("SparkSession.builder")
    assert(builders == Seq("src/main/scala/graft/Engine.scala"),
      s"SparkSession.builder outside the Engine.session factory: $builders")
  }

  test("main code parses XML only through FmpReader's hardened factory") {
    // FmpReader's one factory turns off DTDs and external entities (the
    // XXE guard); a second XMLInputFactory would parse without it.
    val factories = mainFilesUsing("XMLInputFactory")
    assert(factories == Seq("src/main/scala/graft/fmp/FmpReader.scala"),
      s"XMLInputFactory outside FmpReader: $factories")
  }

  test("main code hands driver rows to Spark as local relations, never through parallelize") {
    // spark.createDataFrame(java.util.List[Row], schema) plans a
    // LocalRelation: exact stats, broadcastable, rows encoded once. An
    // RDD of Rows has none of that and ships Java-serialized rows.
    val users = mainFilesUsing(".parallelize(")
    assert(users.isEmpty, s"parallelize in main code: $users")
  }
}
