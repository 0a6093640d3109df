"""SQL entry-point guards + NL pipeline behavior (mock LLM — SURVEY §5
item 5; cleanup rules and error paths from app-gradio.py:149-188)."""

from __future__ import annotations

from local_llm_iceberg_cdw_spark.catalog import register_views
from local_llm_iceberg_cdw_spark.nl.chain import (
    NO_RESULTS_ANSWER,
    AnswerPipeline,
    MockLLM,
    _parse_plot_json,
)
from local_llm_iceberg_cdw_spark.plans.sql import clean_generated_sql, translate_dialect

from conftest import SF_SMOKE


def test_clean_strips_code_fence():
    raw = "```sql\nSELECT 1 AS x\n```"
    assert clean_generated_sql(raw) == "SELECT 1 AS x"


def test_clean_strips_label_and_truncates():
    raw = "SQLQuery: SELECT 1 AS x; DROP TABLE t;"
    assert clean_generated_sql(raw) == "SELECT 1 AS x"


def test_clean_plain_passthrough():
    assert clean_generated_sql("  SELECT 2  ") == "SELECT 2"


def test_dialect_time_travel_rewrite():
    sql = "SELECT * FROM t FOR SYSTEM_TIME AS OF '2024-01-01 00:00:00'"
    assert translate_dialect(sql) == "SELECT * FROM t TIMESTAMP AS OF '2024-01-01 00:00:00'"
    sql2 = "SELECT * FROM t FOR SYSTEM_VERSION AS OF 3"
    assert translate_dialect(sql2) == "SELECT * FROM t VERSION AS OF 3"


def test_bind_time_travel_resolves_snapshot_tables(spark, tmp_path):
    """The AS-OF binder: backticked and bare identifiers, TIMESTAMP and
    VERSION forms, unknown tables passed through untouched, and the full
    execute_sql pipeline returning the HISTORICAL state."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )
    from local_llm_iceberg_cdw_spark.plans.sql import bind_time_travel, execute_sql

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "k long"))
    snaps = t._load()
    snaps[0].timestamp_ms = 1_000
    t._commit(snaps)
    t.append(spark.createDataFrame([(2,)], "k long"), timestamp_ms=2_000)

    bound = bind_time_travel(
        spark, "SELECT * FROM `tv` TIMESTAMP AS OF '1970-01-01 00:00:01.500'", {"tv": t}
    )
    assert "`" not in bound and "AS OF" not in bound
    assert [r.k for r in spark.sql(bound).collect()] == [1]
    bound_v = bind_time_travel(spark, "SELECT * FROM tv VERSION AS OF 2", {"tv": t})
    assert sorted(r.k for r in spark.sql(bound_v).collect()) == [1, 2]
    # unknown identifier: clause left for the engine (native catalogs)
    passthrough = "SELECT * FROM other TIMESTAMP AS OF '2024-01-01'"
    assert bind_time_travel(spark, passthrough, {"tv": t}) == passthrough
    # full pipeline: Impala dialect + fence + junk statement, one result
    raw = (
        "SQLQuery: ```sql\nSELECT count(*) AS n FROM tv "
        "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01.500';\nDROP TABLE tv\n```"
    )
    assert execute_sql(spark, raw, snapshot_tables={"tv": t}).collect()[0].n == 1


def test_pipeline_time_travels_on_snapshot_tables(spark, tmp_path):
    """Generated AS-OF SQL binds on a manifest-format table when the
    pipeline is given it: the answer holds the OLDER snapshot's rows."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    llm = MockLLM(
        [
            "SELECT k FROM tv FOR SYSTEM_VERSION AS OF 1 ORDER BY k",
            '{"plottable": false}',
            "One row.",
        ]
    )
    pipe = AnswerPipeline(spark, llm, table_info="tv(k)", snapshot_tables={"tv": t})
    ans = pipe.run("What was in tv at its first version?")
    assert not ans.error
    assert ans.rows == [(1,)]


def test_plot_json_lowercase_booleans():
    d = _parse_plot_json('{"plottable": true, "chart_type": "bar", "title": "T"}')
    assert d.plottable and d.chart_type == "bar"
    assert not _parse_plot_json("not json at all").plottable


def test_pipeline_happy_path(spark):
    register_views(spark, SF_SMOKE, ["customer"])
    llm = MockLLM(
        [
            "```sql\nSELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment;\n```",
            '{"plottable": true, "chart_type": "bar", "title": "Segments", '
            '"x_label": "segment", "y_label": "customers"}',
            "There are five market segments with roughly equal customer counts.",
        ]
    )
    pipe = AnswerPipeline(spark, llm, table_info="customer(c_custkey,...)")
    ans = pipe.run("How many customers per segment?")
    assert not ans.error
    assert ans.sql.startswith("SELECT c_mktsegment")
    assert len(ans.rows) == 5
    assert ans.plot.plottable and ans.plot.chart_type == "bar"
    assert "segments" in ans.text.lower()
    assert len(llm.calls) == 3


def test_pipeline_empty_result_short_circuits(spark):
    register_views(spark, SF_SMOKE, ["customer"])
    llm = MockLLM(["SELECT * FROM customer WHERE c_custkey < 0"])
    ans = AnswerPipeline(spark, llm, table_info="").run("impossible question")
    assert ans.text == NO_RESULTS_ANSWER
    assert not llm.responses  # no plot/summary calls were made
    assert not ans.error


def test_pipeline_bad_sql_is_nonfatal(spark):
    llm = MockLLM(["SELEKT broken FROM nowhere"])
    ans = AnswerPipeline(spark, llm, table_info="").run("q")
    assert ans.error.startswith("The query could not be executed")
    assert ans.rows == []


def test_pipeline_empty_generation_is_nonfatal(spark):
    llm = MockLLM(["```sql\n\n```"])
    ans = AnswerPipeline(spark, llm, table_info="").run("q")
    assert ans.error.startswith("Failed to generate")


def test_table_info_renders_schema_and_samples(spark):
    from local_llm_iceberg_cdw_spark.catalog import table_info

    register_views(spark, SF_SMOKE, ["region"])
    info = table_info(spark, ["region"], sample_rows=3)
    assert "CREATE TABLE region" in info
    assert "r_regionkey" in info and "AFRICA" in info


def test_parameterized_sql_binds_quotes(spark):
    """F1: parameter binding replaces manual quote-doubling."""
    from local_llm_iceberg_cdw_spark.plans.sql import execute_sql

    register_views(spark, SF_SMOKE, ["customer"])
    df = execute_sql(
        spark,
        "SELECT count(*) AS n FROM customer WHERE c_name != :tricky AND c_acctbal > :minbal",
        args={"tricky": "O'Brien; DROP TABLE x", "minbal": 0},
    )
    assert df.collect()[0][0] > 0


def test_backtick_identifiers(spark):
    """F2: backtick quoting is native Spark SQL."""
    from local_llm_iceberg_cdw_spark.plans.sql import execute_sql

    register_views(spark, SF_SMOKE, ["region"])
    rows = execute_sql(spark, "SELECT `r_name` FROM `region` ORDER BY `r_regionkey`").collect()
    assert rows[0][0] == "AFRICA"


def test_health_probe(spark):
    from local_llm_iceberg_cdw_spark.plans.sql import health_probe

    assert health_probe(spark) is True


# --- chart rendering (reference app-gradio.py:230-252 parity) ---------------


def test_prepare_chart_data_bar_and_wide_fallback():
    from local_llm_iceberg_cdw_spark.nl.chain import PlotDecision
    from local_llm_iceberg_cdw_spark.nl.plot import prepare_chart_data

    d = PlotDecision(plottable=True, chart_type="bar", title="T", x_label="seg", y_label="rev")
    # wide result: first two columns are used (reference's >2-column fallback)
    spec = prepare_chart_data(d, ["seg", "rev", "extra"], [("A", 10.0, 1), ("B", 20.0, 2)])
    assert spec is not None
    assert spec.categories == ["A", "B"] and spec.values == [10.0, 20.0]
    assert (spec.x_label, spec.y_label, spec.title) == ("seg", "rev", "T")


def test_prepare_chart_data_short_circuits():
    from local_llm_iceberg_cdw_spark.nl.chain import PlotDecision
    from local_llm_iceberg_cdw_spark.nl.plot import prepare_chart_data

    ok = PlotDecision(plottable=True, chart_type="bar")
    assert prepare_chart_data(PlotDecision(), ["a", "b"], [("x", 1)]) is None  # not plottable
    assert prepare_chart_data(
        PlotDecision(plottable=True, chart_type="scatter"), ["a", "b"], [("x", 1)]
    ) is None  # unsupported type
    assert prepare_chart_data(ok, ["a", "b"], []) is None  # empty result
    assert prepare_chart_data(ok, ["n"], [(3,)]) is None  # single column
    # pie requires numeric values (pd.to_numeric failure in the reference)
    pie = PlotDecision(plottable=True, chart_type="pie")
    assert prepare_chart_data(pie, ["a", "b"], [("x", "not-a-number")]) is None
    spec = prepare_chart_data(pie, ["a", "b"], [("x", "3"), ("y", 1)])
    assert spec is not None and spec.values == [3.0, 1.0]  # coerced


def test_render_answer_chart_never_raises():
    from local_llm_iceberg_cdw_spark.nl.chain import Answer, PlotDecision
    from local_llm_iceberg_cdw_spark.nl.plot import HAVE_MATPLOTLIB, render_answer_chart

    ans = Answer(
        columns=["seg", "rev"],
        rows=[("A", 1.0), ("B", 2.0)],
        plot=PlotDecision(plottable=True, chart_type="bar", title="t"),
    )
    fig = render_answer_chart(ans)
    if HAVE_MATPLOTLIB:
        assert fig is not None  # drew a real figure headlessly
    else:
        assert fig is None  # import-gated: no matplotlib in this env
    # malformed answers must not raise either
    assert render_answer_chart(Answer()) is None


# --- OpenAI-compatible production client (reference app-gradio.py:53-68) ----


def test_openai_client_payload_and_parse_offline():
    import json

    from local_llm_iceberg_cdw_spark.nl.openai_client import OpenAICompatClient

    seen = {}

    def mock_transport(url, payload, headers, timeout_s):
        seen["url"], seen["payload"], seen["headers"] = url, json.loads(payload), headers
        return json.dumps(
            {"choices": [{"message": {"role": "assistant", "content": "SELECT 1"}}]}
        ).encode()

    llm = OpenAICompatClient("http://llm.local/v1", transport=mock_transport)
    out = llm([{"role": "user", "content": "hi"}])
    assert out == "SELECT 1"
    assert seen["url"] == "http://llm.local/v1/chat/completions"
    # reference sampling defaults (app-gradio.py:55-66)
    assert seen["payload"]["temperature"] == 0.7 and seen["payload"]["top_p"] == 0.9
    assert seen["payload"]["seed"] == 42 and seen["payload"]["max_tokens"] == 4096
    assert seen["headers"]["Authorization"] == "Bearer dummy"


def test_openai_client_drives_answer_pipeline(spark):
    """End-to-end: the production client shape plugs into AnswerPipeline
    via a scripted transport — no network, full chain exercised."""
    import json

    from local_llm_iceberg_cdw_spark.catalog import register_views, table_info
    from local_llm_iceberg_cdw_spark.nl.chain import AnswerPipeline
    from local_llm_iceberg_cdw_spark.nl.openai_client import OpenAICompatClient

    responses = [
        "SELECT r_name FROM region ORDER BY r_regionkey LIMIT 2",
        '{"plottable": false}',
        "Africa and America lead the list.",
    ]

    def scripted(url, payload, headers, timeout_s):
        return json.dumps(
            {"choices": [{"message": {"content": responses.pop(0)}}]}
        ).encode()

    register_views(spark, SF_SMOKE, ["region"])
    llm = OpenAICompatClient("http://llm.local/v1", transport=scripted)
    ans = AnswerPipeline(spark, llm, table_info(spark, ["region"])).run("top regions?")
    assert ans.error == ""
    assert ans.rows == [("AFRICA",), ("AMERICA",)]
    assert ans.text == "Africa and America lead the list."


def test_openai_client_rejects_malformed_response():
    import pytest

    from local_llm_iceberg_cdw_spark.nl.openai_client import OpenAICompatClient

    llm = OpenAICompatClient("http://x/v1", transport=lambda *a: b'{"error": "boom"}')
    with pytest.raises(ValueError, match="no choices"):
        llm([{"role": "user", "content": "q"}])


def test_sql_repair_loop_fixes_failed_query(spark):
    """Opt-in self-repair: a bad first SQL triggers one repair round-trip
    (failed SQL + engine error shown to the model); the corrected query
    then runs.  With repair disabled (the reference's behavior) the same
    script errors out."""
    from local_llm_iceberg_cdw_spark.nl.chain import AnswerPipeline, MockLLM

    script = [
        "SELECT definitely_not_a_column FROM nowhere",  # generation
        "SELECT 1 AS one",                              # repair
        '{"plottable": false}',                         # plot decision
        "There is one row.",                            # summary
    ]
    p = AnswerPipeline(spark, MockLLM(script), table_info="(none)", sql_repair_attempts=1)
    states = []
    ans = None
    for state, ans in p.run_iter("how many?"):
        states.append(state)
    assert "repairing" in states and states[-1] == "answer"
    assert ans.sql == "SELECT 1 AS one"
    assert ans.rows == [(1,)]
    assert not ans.error

    p0 = AnswerPipeline(
        spark,
        MockLLM(["SELECT definitely_not_a_column FROM nowhere"]),
        table_info="(none)",
    )
    a0 = p0.run("how many?", want_plot=False, want_summary=False)
    assert a0.error.startswith("The query could not be executed")
