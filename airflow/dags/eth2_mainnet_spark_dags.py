"""Airflow DAGs scheduling the Spark pipeline jobs.

Airflow is the only orchestrator: the schedules, the dependency edges and
the retry policy live in this file, and every task is one `spark-submit` of
the library's one job entry, `graft.jobs.Eth2Job`
(`src/main/scala/graft/jobs/Eth2Job.scala`). The deployment story is the
reference's thin DAG-instantiation file
(`eth2_mainnet_hourly_export_dag.py:7-16`) with the BigQuery/CLI tasks
replaced by `spark-submit`.

Submit contract (each task is one spark-submit; the verb picks the stage):

    spark-submit --class graft.jobs.Eth2Job graft.jar daily-export \
        <providerUris|fixtureDir> <exportBase> <yyyy-MM-dd>
    spark-submit --class graft.jobs.Eth2Job graft.jar daily-load \
        <exportBase> <warehouseBase> <yyyy-MM-dd>
    spark-submit --class graft.jobs.Eth2Job graft.jar hourly-export \
        <providerUris|fixtureDir> <exportBase> <yyyy-MM-dd> <hour>
    spark-submit --class graft.jobs.Eth2Job graft.jar hourly-load \
        <exportBase> <warehouseBase> <yyyy-MM-dd> <hour>

The fifth verb, `replay <fixtureDir|--gen-fixtures> <workDir> [yyyy-MM-dd]`,
is a development entry with no task here. A job prints one JSON result line
and exits 0, or fails its task. Each load verifies what it loaded:
`daily-load` runs the reference's three daily checks, `hourly-load` its
hourly pair. The master and the cluster conf are spark-submit's.

A first argument starting with http(s):// selects the real beacon-node HTTP
client (comma-separated URIs = provider fallback order); rate limit and
fetch parallelism come from the EXPORT_RATE_LIMIT / EXPORT_MAX_WORKERS
environment variables (the reference's `export_rate_limit` /
`export_max_workers` Airflow Variables, `variables.py:15-21`).

The module imports cleanly without Airflow installed: DAG construction is
skipped, the submit contract above still documents the interface.
"""
import os
import shlex

try:
    from datetime import datetime, timedelta

    from airflow import DAG
    from airflow.operators.bash import BashOperator

    _HAVE_AIRFLOW = True
except ImportError:  # pragma: no cover - container has no airflow
    _HAVE_AIRFLOW = False

# Resolved the same way the reference reads its Airflow Variables
# (`variables.py:55-64`): environment first, defaults second.
GRAFT_JAR = os.environ.get("GRAFT_JAR", "/opt/graft/graft.jar")
PROVIDER_URIS = os.environ.get("ETH2_PROVIDER_URIS", "http://localhost:5052")
EXPORT_BASE = os.environ.get("ETH2_EXPORT_BASE", "/data/eth2/export")
WAREHOUSE_BASE = os.environ.get("ETH2_WAREHOUSE_BASE", "/data/eth2/warehouse")
SPARK_SUBMIT = os.environ.get("SPARK_SUBMIT", "spark-submit")

# Jinja templates Airflow renders into `bash_command` before bash runs it.
# The hour's format string is double-quoted: `shlex.quote` leaves a
# template without single quotes whole, so Jinja still parses it.
DS = "{{ ds }}"
HOUR = '{{ logical_date.strftime("%H") }}'


def _submit(verb, *args):
    """One task = one spark-submit of the job entry."""
    quoted = " ".join(shlex.quote(str(a)) for a in (verb,) + args)
    return (f"{SPARK_SUBMIT} --class graft.jobs.Eth2Job "
            f"{shlex.quote(GRAFT_JAR)} {quoted}")


if _HAVE_AIRFLOW:
    # E4 — the reference's retry policy for every task of both DAG
    # families (`build_export_dag.py:33-41`, `build_load_dag.py:39-47`).
    default_args = {
        "depends_on_past": False,
        "retries": 5,
        "retry_delay": timedelta(minutes=5),
    }

    # Daily export >> load: schedule + start date mirror the reference's
    # mainnet DAG (genesis day 2020-12-01, daily cadence —
    # `build_export_dag.py:46-55`); the load's three checks run inside its
    # job. The `export >> load` edge is the gate: the load runs only after
    # the same logical date's export succeeded, which is what the
    # reference's GCS sensor waits for (`build_load_dag.py:67-74`).
    # `schedule=` (not the reference era's `schedule_interval=`, deprecated
    # in Airflow 2.4 and removed in 3.0) so the example imports on current
    # releases.
    with DAG(
        dag_id="eth2_mainnet_spark_daily_dag",
        default_args=default_args,
        schedule="0 1 * * *",
        start_date=datetime(2020, 12, 1),
        max_active_runs=1,
        catchup=False,
    ) as daily_dag:
        daily_export = BashOperator(
            task_id="daily_export",
            bash_command=_submit(
                "daily-export", PROVIDER_URIS, EXPORT_BASE, DS),
        )
        daily_load = BashOperator(
            task_id="daily_load",
            bash_command=_submit(
                "daily-load", EXPORT_BASE, WAREHOUSE_BASE, DS),
        )
        daily_export >> daily_load

    # Hourly export >> load: `30 * * * *` like the reference
    # (`eth2_mainnet_hourly_export_dag.py:12`). The `export >> load` edge is
    # the gate the reference builds from an ExternalTaskSensor
    # (`build_hourly_load_dag.py:70-80`). Its trees sit beside the daily
    # ones, as the reference's `export_hourly/` beside `export/`
    # (`build_hourly_export_dag.py:64`): an hour partition would land
    # inside a day directory the daily DAG owns and replaces.
    with DAG(
        dag_id="eth2_mainnet_spark_hourly_dag",
        default_args=default_args,
        schedule="30 * * * *",
        start_date=datetime(2020, 12, 1),
        max_active_runs=1,
        catchup=False,
    ) as hourly_dag:
        hourly_export = BashOperator(
            task_id="hourly_export",
            bash_command=_submit(
                "hourly-export", PROVIDER_URIS, f"{EXPORT_BASE}_hourly",
                DS, HOUR),
        )
        hourly_load = BashOperator(
            task_id="hourly_load",
            bash_command=_submit(
                "hourly-load", f"{EXPORT_BASE}_hourly",
                f"{WAREHOUSE_BASE}_hourly", DS, HOUR),
        )
        hourly_export >> hourly_load
