package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The shape of the inputs fixtures.py writes, and readers for the
  * answers it computes from them. The constants here must match that
  * script. */
object Fixtures {
  val registered: Seq[String] = Seq("111111111111", "222222222222", "333333333333", "444444444444")
  val regionRuled: String = "905174205951"
  val services: Seq[String] = Seq("AmazonEC2", "AmazonS3", "AmazonRDS", "AWSLambda",
    "AmazonDynamoDB", "AmazonCloudFront", "AmazonEKS", "AmazonSQS", "AmazonSNS",
    "AmazonRedshift", "AWSGlue", "AmazonKinesis")
  /** The sync window: the last three of the four CUR months on disk. */
  val windowMonths: Seq[(Int, Int)] = Seq((2024, 2), (2024, 3), (2024, 4))
  val asOf: java.time.LocalDate = java.time.LocalDate.of(2024, 4, 15)
  val daysPerMonth = 28

  /** Tab-separated rows of an `expected/` file. */
  def tsv(dir: Path, name: String): Seq[Array[String]] =
    Files.readAllLines(dir.resolve("expected").resolve(name)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))
}
