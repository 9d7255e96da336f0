package graft.orchestrate

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{Cli, Json, SparkSpec}
import graft.meta.MetadataStore

/** `Cli offload` and `POST /api/orchestration/offload` read one field
  * table, [[OffloadRunner.OffloadConfig.fromFields]]: the same offload
  * through either front end lands the same table and metadata, and both
  * reject the same bad requests. */
class OffloadFieldsSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/orchestration/offload/"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** Run `body` against a listener serving `meta`. */
  private def withListener[T](meta: String)(body: Int => T): T = {
    val srv = Listener.start(spark, meta)
    try body(srv.port) finally srv.stop()
  }

  /** `Cli.main`'s stdout lines. */
  private def cli(args: String*): Seq[String] = {
    val cap = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cap, true, "UTF-8")) {
      Cli.main(("offload" +: args).toArray)
    }
    cap.toString("UTF-8").linesIterator.toSeq
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  test("the same offload through the CLI and the REST route lands the " +
      "same steps, metadata, schema and partitions") {
    val (a, b) = (tmp("graft_fields_cli"), tmp("graft_fields_rest"))
    val source = sf("sf0.001") + "/nation.parquet"
    val cliSteps = cli("--source", source, "--final", s"$a/final",
      "--meta", s"$a/meta", "--partition-by", "n_regionkey",
      "--incremental-key", "n_nationkey",
      "--integer-4-columns", "n_nationkey")
      .filter(_.startsWith("ok ")).map(_.split("\\s+")(1))
    val restSteps = withListener(s"$b/meta") { port =>
      val resp = post(port,
        s"""{"source": ${Json.quote(source)},
           | "final": ${Json.quote(s"$b/final")},
           | "partition_by": "n_regionkey",
           | "incremental_key": ["n_nationkey"],
           | "integer_4_columns": "n_nationkey"}""".stripMargin)
      assert(resp.statusCode() == 200, resp.body())
      val steps = Json.parse(s"""{"steps": ${resp.body()}}""").objs("steps")
      // every step is ok, as the JSON boolean true: `str` reads only a string
      assert(steps.forall(s =>
        s.values("ok") == Seq("true") && s.str("ok").isEmpty))
      steps.map(_.str("step").get)
    }
    assert(cliSteps.nonEmpty && cliSteps == restSteps)
    // the metadata documents differ only in the final table's path
    def meta(dir: String) = MetadataStore.load(s"$dir/meta", "nation")
      .map(m => MetadataStore.toJson(m.copy(backendTable = "")))
    assert(meta(a).isDefined && meta(a) == meta(b))
    assert(meta(a).get.contains("\"incremental_key\": [\"n_nationkey\"]"))
    val (fa, fb) = (spark.read.parquet(s"$a/final"),
      spark.read.parquet(s"$b/final"))
    assert(fa.schema == fb.schema)
    assert(fa.schema("n_nationkey").dataType.sql == "INT")
    def parts(dir: String): Seq[String] = Files.list(Paths.get(dir, "final"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("n_regionkey=")).toSeq.sorted
    assert(parts(a).length == 5 && parts(a) == parts(b))
    assert(fa.count() == 25 && fb.count() == 25)
  }

  test("dry_run false writes the final table through either front end; " +
      "a dry_run that is neither true nor false is rejected") {
    val base = tmp("graft_fields_dry")
    val source = sf("sf0.001") + "/region.parquet"
    cli("--source", source, "--final", s"$base/cli", "--meta",
      s"$base/meta_cli", "--dry-run", "false")
    assert(spark.read.parquet(s"$base/cli").count() == 5)
    withListener(s"$base/meta_rest") { port =>
      val resp = post(port, s"""{"source": ${Json.quote(source)},
        | "final": ${Json.quote(s"$base/rest")},
        | "dry_run": "false"}""".stripMargin)
      assert(resp.statusCode() == 200, resp.body())
    }
    assert(spark.read.parquet(s"$base/rest").count() == 5)
    val e = intercept[IllegalArgumentException](cli("--source", source,
      "--final", s"$base/maybe", "--meta", s"$base/meta_cli",
      "--dry-run", "maybe"))
    assert(e.getMessage.contains("dry_run") && e.getMessage.contains("maybe"))
    assert(!Files.exists(Paths.get(s"$base/maybe")))
  }

  test("unknown and missing fields name the field: a CLI exception, a " +
      "REST 422") {
    val base = tmp("graft_fields_bad")
    val source = sf("sf0.001") + "/region.parquet"
    val e = intercept[IllegalArgumentException](cli("--source", source,
      "--final", s"$base/final", "--meta", s"$base/meta",
      "--bogus-flag", "x"))
    assert(e.getMessage.contains("bogus_flag"), e.getMessage)
    withListener(s"$base/meta") { port =>
      def detail(body: String): String = {
        val resp = post(port, body)
        assert(resp.statusCode() == 422, resp.body())
        Json.parse(resp.body()).str("detail").get
      }
      assert(detail(s"""{"source": ${Json.quote(source)},
        | "final": ${Json.quote(s"$base/final")},
        | "bogus_flag": "x"}""".stripMargin).contains("bogus_flag"))
      assert(detail(s"""{"source": ${Json.quote(source)}}""")
        .contains("final"))
      // a number is none of the field shapes (string, strings, boolean)
      assert(detail(s"""{"source": ${Json.quote(source)},
        | "final": 3}""".stripMargin).contains("final"))
    }
    assert(!Files.exists(Paths.get(s"$base/final")))
  }
}

/** `Cli` and `Listener` build an offload config only through the field
  * table; a front end that hand-builds one drifts from the other (REST
  * had silently dropped `partition_by` and the type overrides). Comments
  * may still show a constructor. */
class OffloadFieldsScanSpec extends AnyFunSuite {

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("no OffloadConfig( in Cli.scala or orchestrate/Listener.scala") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root),
      s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val frontEnds = Seq(root.resolve("Cli.scala"),
      root.resolve("orchestrate/Listener.scala"))
    val offenders = frontEnds.filter(p => code(p).contains("OffloadConfig("))
    assert(offenders.isEmpty, "build offload configs with " +
      s"OffloadConfig.fromFields: ${offenders.mkString(", ")}")
    // the scan sees real code: both front ends call the field table
    assert(frontEnds.forall(p =>
      code(p).contains("OffloadConfig.fromFields(")))
  }
}
