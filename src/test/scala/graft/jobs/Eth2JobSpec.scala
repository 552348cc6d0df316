package graft.jobs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.{BeaconFixtures, SparkTestBase}

/** The deployed path end to end: the DAG file renders under a stub `airflow`
  * package (no Airflow installed), Jinja renders each task's `bash_command`
  * as Airflow would for one logical hour, and the arguments after the jar
  * run through [[Eth2Job.run]] in edge order on fixtures.
  */
class Eth2JobSpec extends SparkTestBase {

  private val DagFile = Paths.get("airflow/dags/eth2_mainnet_spark_dags.py")
  private val Jar = "/opt/graft/graft.jar"

  /** The stub records each DAG's arguments, each task's command and its
    * `>>` edges; the render script prints them as JSON. */
  private val Stub = Map(
    "airflow/__init__.py" ->
      """class DAG:
        |    dags = []
        |    current = None
        |
        |    def __init__(self, dag_id, default_args=None, **kwargs):
        |        self.dag_id, self.default_args = dag_id, default_args or {}
        |        self.kwargs, self.tasks = kwargs, []
        |        DAG.dags.append(self)
        |
        |    def __enter__(self):
        |        DAG.current = self
        |        return self
        |
        |    def __exit__(self, *exc):
        |        DAG.current = None
        |""".stripMargin,
    "airflow/operators/__init__.py" -> "",
    "airflow/operators/bash.py" ->
      """from airflow import DAG
        |
        |
        |class BashOperator:
        |    def __init__(self, task_id, bash_command, **kwargs):
        |        self.task_id, self.bash_command, self.downstream = task_id, bash_command, []
        |        DAG.current.tasks.append(self)
        |
        |    def __rshift__(self, other):
        |        self.downstream.append(other.task_id)
        |        return other
        |""".stripMargin,
    "render.py" ->
      """import datetime, importlib.util, json, shlex, sys
        |
        |import jinja2
        |
        |from airflow import DAG
        |
        |dag_file, ds, hour = sys.argv[1], sys.argv[2], int(sys.argv[3])
        |spec = importlib.util.spec_from_file_location("dags", dag_file)
        |spec.loader.exec_module(importlib.util.module_from_spec(spec))
        |logical = datetime.datetime.fromisoformat(ds).replace(hour=hour, minute=30)
        |out = {}
        |for dag in DAG.dags:
        |    args = dict(dag.default_args)
        |    args["retry_delay"] = args["retry_delay"].total_seconds()
        |    out[dag.dag_id] = {
        |        "default_args": args,
        |        "max_active_runs": dag.kwargs.get("max_active_runs"),
        |        "tasks": {t.task_id: {
        |            "argv": shlex.split(jinja2.Template(t.bash_command)
        |                                .render(ds=ds, logical_date=logical)),
        |            "downstream": t.downstream} for t in dag.tasks},
        |    }
        |print(json.dumps(out))
        |""".stripMargin)

  /** Render the DAG file with `env` set; python3 missing fails the test. */
  private def renderDags(env: Map[String, String], ds: String, hour: Int): JsonNode = {
    val dir = Files.createTempDirectory("airflow-stub")
    for ((name, text) <- Stub) {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    }
    val pb = new ProcessBuilder("python3", dir.resolve("render.py").toString,
      DagFile.toAbsolutePath.toString, ds, hour.toString)
    pb.environment().putAll(env.asJava)
    pb.environment().put("PYTHONPATH", dir.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    assert(proc.waitFor() === 0, s"rendering $DagFile failed")
    new ObjectMapper().readTree(out)
  }

  /** A DAG's task ids in edge order (the edges form one chain). */
  private def chain(dag: JsonNode): Seq[String] = {
    val tasks = dag.get("tasks")
    val ids = tasks.fieldNames().asScala.toSeq
    val targets = ids.flatMap(id => tasks.get(id).get("downstream").elements().asScala.map(_.asText))
    Iterator.iterate(ids.filterNot(targets.contains))(_.flatMap { id =>
      tasks.get(id).get("downstream").elements().asScala.map(_.asText).toSeq
    }).takeWhile(_.nonEmpty).flatten.toSeq
  }

  /** A task's `spark-submit` argv, checked down to the jar; returns what
    * follows it. */
  private def jobArgs(dag: JsonNode, task: String): Seq[String] = {
    val argv = dag.get("tasks").get(task).get("argv").elements().asScala.map(_.asText).toSeq
    assert(argv.take(4) === Seq("spark-submit", "--class", "graft.jobs.Eth2Job", Jar), task)
    argv.drop(4)
  }

  test("the DAG file's commands run in edge order: daily export → load, hourly export → load") {
    val work = Files.createTempDirectory("eth2-job")
    val fixtures = work.resolve("fixtures").toString
    BeaconFixtures.writeDay(fixtures, nSlots = 128, nValidators = 4)
    val (export, warehouse) = (work.resolve("export").toString, work.resolve("warehouse").toString)
    val ds = BeaconFixtures.GenesisDay.toString
    val dags = renderDags(Map("ETH2_PROVIDER_URIS" -> fixtures, "ETH2_EXPORT_BASE" -> export,
      "ETH2_WAREHOUSE_BASE" -> warehouse, "GRAFT_JAR" -> Jar, "SPARK_SUBMIT" -> "spark-submit"),
      ds, hour = 12)

    assert(dags.fieldNames().asScala.toSet ===
      Set("eth2_mainnet_spark_daily_dag", "eth2_mainnet_spark_hourly_dag"))
    val daily = dags.get("eth2_mainnet_spark_daily_dag")
    val hourly = dags.get("eth2_mainnet_spark_hourly_dag")
    for (dag <- Seq(daily, hourly)) {
      // E4 — the reference's retry policy; one run at a time
      assert(dag.get("default_args").get("retries").asInt === 5)
      assert(dag.get("default_args").get("retry_delay").asDouble === 300.0)
      assert(dag.get("max_active_runs").asInt === 1)
    }
    assert(chain(daily) === Seq("daily_export", "daily_load"))
    assert(chain(hourly) === Seq("hourly_export", "hourly_load"))

    // every verb but the development `replay` has exactly one task
    val commands = Seq(daily -> "daily_export", daily -> "daily_load",
      hourly -> "hourly_export", hourly -> "hourly_load")
      .map { case (dag, task) => task -> jobArgs(dag, task) }.toMap
    assert(commands.values.map(_.head).toSet ===
      Set("daily-export", "daily-load", "hourly-export", "hourly-load"))
    assert(commands("hourly_load") ===
      Seq("hourly-load", s"${export}_hourly", s"${warehouse}_hourly", ds, "12"))

    def run(task: String) = Eth2Job.run(spark, commands(task))
    assert(run("daily_export") === s"""{"job":"daily_export","date":"$ds"}""")
    assert(run("daily_load") === s"""{"job":"daily_load","date":"$ds","verify":"pass"}""")
    assert(spark.read.parquet(s"$warehouse/beacon_blocks").count() === 128L)
    assert(run("hourly_export") === s"""{"job":"hourly_export","date":"$ds","hour":12}""")
    assert(run("hourly_load") ===
      s"""{"job":"hourly_load","date":"$ds","hour":12,"verify":"pass"}""")
    assert(spark.read.parquet(s"${warehouse}_hourly/beacon_blocks").count() === 128L)
    assert(spark.read.parquet(s"${warehouse}_hourly/beacon_validators_latest")
      .select("validator_index").distinct().count() === 4L)

    // a replay of the day whose source dropped a slot: the load's verify
    // fails with the reference's blocks_count message
    val blocks = Paths.get(fixtures, "beacon_blocks.json")
    Files.write(blocks, Files.readAllLines(blocks).asScala
      .filterNot(_.startsWith("""{"block_slot":5,""")).asJava)
    run("daily_export")
    val e = intercept[Exception](run("daily_load"))
    assert(e.getMessage.contains(
      s"Total number of beacon blocks is not equal to last block number plus one on $ds"))
  }

  test("an unknown verb or a wrong argument count fails with the usage line") {
    for (args <- Seq(Seq("nope"), Seq(), Seq("daily-load", "a", "b"),
                     Seq("hourly-export", "a", "b", "2020-12-01"),
                     Seq("replay", "a", "b", "2020-12-01", "extra"))) {
      val e = intercept[IllegalArgumentException](Eth2Job.run(spark, args))
      assert(e.getMessage === Eth2Job.Usage, args)
      assert(e.getMessage.startsWith("usage: Eth2Job daily-export "))
    }
  }
}
