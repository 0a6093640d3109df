"""NL→SQL→answer pipeline — the reference's semantic operators (SURVEY §2.10).

Re-creates the driver-side LLM chains of ``/root/reference/app-gradio.py``
as a deterministic, injectable pipeline over *our* Spark engine:

- U1 NL→SQL: prompt with {table_info}, {top_k}, cleanup rules, first
  statement only (``app-gradio.py:132-157``).
- U2 plottability: JSON {plottable, chart_type, title, x_label, y_label},
  with the true/false→True/False patch (``app-gradio.py:193-217``).
- U3 summarization (``app-gradio.py:261-279``).
- Error semantics (§2.11): empty result → fixed "no matching records"
  answer; SQL-gen, execution and summarization failures each produce a
  distinct error string without raising.

The LLM boundary is one callable ``(list[{'role','content'}]) -> str`` —
tests inject :class:`MockLLM`; production can point it at any
OpenAI-compatible ``/v1/chat/completions`` endpoint (the reference serves
its own via ``fastapi-llm.py:86-112``); no network code lives here.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..plans.sql import clean_generated_sql, execute_sql

LLMClient = Callable[[list[dict[str, str]]], str]

SQL_PROMPT = """You are an expert SQL generator. Given the table schemas below,
write ONE syntactically correct Spark SQL query answering the question.
Unless told otherwise, limit results to {top_k} rows. Only join tables when
necessary. Return only the SQL statement.

{table_info}

Question: {question}
SQLQuery:"""

PLOT_PROMPT = """Decide if this result can be charted. Reply with ONLY a JSON
object: {{"plottable": true/false, "chart_type": "bar"/"pie", "title": str,
"x_label": str, "y_label": str}}.

Question: {question}
Result: {result}"""

SUMMARY_PROMPT = """Answer the user's question in one or two sentences using
only this SQL result. Do not invent data.

Question: {question}
SQL result: {result}"""

NO_RESULTS_ANSWER = "There are no matching records for your question."

REPAIR_PROMPT = """The SQL query below failed when executed on Spark.
Rewrite it into ONE corrected, syntactically valid Spark SQL query that
answers the original question.  Return only the SQL statement.

{table_info}

Question: {question}
Failed SQL: {sql}
Error: {error}
SQLQuery:"""


@dataclass
class PlotDecision:
    plottable: bool = False
    chart_type: str = ""
    title: str = ""
    x_label: str = ""
    y_label: str = ""


@dataclass
class Answer:
    sql: str = ""
    rows: list[tuple] = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    plot: PlotDecision = field(default_factory=PlotDecision)
    text: str = ""
    error: str = ""


class MockLLM:
    """Deterministic scripted LLM for tests: returns canned responses in
    order, or a constant."""

    def __init__(self, responses: list[str]):
        self.responses = list(responses)
        self.calls: list[list[dict[str, str]]] = []

    def __call__(self, messages: list[dict[str, str]]) -> str:
        self.calls.append(messages)
        if not self.responses:
            raise RuntimeError("MockLLM exhausted")
        return self.responses.pop(0)


def _parse_plot_json(raw: str) -> PlotDecision:
    """JSON parse with the reference's lowercase-boolean tolerance
    (app-gradio.py:215-217) and code-fence tolerance."""
    text = raw.strip()
    m = re.search(r"\{.*\}", text, re.DOTALL)
    if not m:
        return PlotDecision()
    try:
        obj = json.loads(m.group(0))
    except json.JSONDecodeError:
        return PlotDecision()
    return PlotDecision(
        plottable=bool(obj.get("plottable", False)),
        chart_type=str(obj.get("chart_type", "")),
        title=str(obj.get("title", "")),
        x_label=str(obj.get("x_label", "")),
        y_label=str(obj.get("y_label", "")),
    )


def format_rows_markdown(columns: list[str], rows: list[tuple], max_rows: int = 50) -> str:
    """Markdown-table rendering of a result set (F7 — behavioral parity
    with ``/root/reference/all_in_one_PC.py:117-135``)."""
    if not rows:
        return "_no matching records_"
    head = "| " + " | ".join(columns) + " |"
    sep = "| " + " | ".join("---" for _ in columns) + " |"
    body = [
        "| " + " | ".join("" if v is None else str(v) for v in r) + " |"
        for r in rows[:max_rows]
    ]
    suffix = [f"\n_{len(rows) - max_rows} more rows…_"] if len(rows) > max_rows else []
    return "\n".join([head, sep, *body, *suffix])


class AnswerPipeline:
    """question → SQL → execute on Spark → plot decision → summary."""

    def __init__(
        self,
        spark: SparkSession,
        llm: LLMClient,
        table_info: str,
        top_k: int = 50,
        sql_repair_attempts: int = 0,
        snapshot_tables: dict | None = None,
    ):
        # sql_repair_attempts=0 keeps reference behavior (a failed query
        # is surfaced as the answer, app-gradio.py:183-186); >0 enables
        # the self-repair loop: re-prompt the model with the failed SQL
        # and the engine's error, then re-execute.  snapshot_tables
        # ({name: SnapshotParquetTable}) lets generated SQL time-travel
        # on manifest-format tables (`plans.sql.execute_sql`).
        self.spark = spark
        self.llm = llm
        self.table_info = table_info
        self.top_k = top_k
        self.sql_repair_attempts = sql_repair_attempts
        self.snapshot_tables = snapshot_tables

    def generate_sql(self, question: str) -> str:
        raw = self.llm(
            [{"role": "user", "content": SQL_PROMPT.format(
                table_info=self.table_info, top_k=self.top_k, question=question)}]
        )
        return clean_generated_sql(raw)

    def run_iter(self, question: str, want_plot: bool = True, want_summary: bool = True):
        """Progressive-state generator — the reference UI's streaming
        ``predict`` loop (``app-gradio.py:119-127`` "Thinking…" →
        ``:166-167`` "Running query…" → ``:258-259`` chart / "Summarizing…"
        → ``:294-298`` final answer or error), decoupled from any UI.

        Yields ``(state, Answer)`` with states ``thinking``,
        ``running_query`` (sql set), ``chart`` (plot decision set),
        ``summarizing``, and a terminal ``answer``/``error``; the same
        Answer instance accretes fields across yields."""
        ans = Answer()
        yield "thinking", ans
        try:
            ans.sql = self.generate_sql(question)
            if not ans.sql:
                ans.error = "Failed to generate a SQL query for your question."
                yield "error", ans
                return
        except Exception as exc:  # noqa: BLE001 — reference surfaces, never raises
            ans.error = f"Failed to generate a SQL query: {exc}"
            yield "error", ans
            return
        yield "running_query", ans
        repairs_left = self.sql_repair_attempts
        while True:
            try:
                df: DataFrame = execute_sql(
                    self.spark, ans.sql, snapshot_tables=self.snapshot_tables
                )
                ans.columns = df.columns
                ans.rows = [tuple(r) for r in df.collect()]
                break
            except Exception as exc:  # noqa: BLE001
                if repairs_left <= 0:
                    ans.error = f"The query could not be executed: {exc}"
                    yield "error", ans
                    return
                repairs_left -= 1
                yield "repairing", ans
                try:
                    ans.sql = clean_generated_sql(
                        self.llm(
                            [{"role": "user", "content": REPAIR_PROMPT.format(
                                table_info=self.table_info,
                                question=question,
                                sql=ans.sql,
                                error=str(exc)[:500])}]
                        )
                    )
                except Exception as rexc:  # noqa: BLE001
                    ans.error = f"The query could not be repaired: {rexc}"
                    yield "error", ans
                    return
                yield "running_query", ans
        if not ans.rows:
            ans.text = NO_RESULTS_ANSWER  # empty-result short-circuit
            yield "answer", ans
            return
        result_repr = repr(ans.rows)
        if want_plot:
            try:
                ans.plot = _parse_plot_json(
                    self.llm([{"role": "user", "content": PLOT_PROMPT.format(
                        question=question, result=result_repr)}])
                )
            except Exception:  # noqa: BLE001 — plot failure is non-fatal
                ans.plot = PlotDecision()
            yield "chart", ans
        if want_summary:
            yield "summarizing", ans
            try:
                ans.text = self.llm(
                    [{"role": "user", "content": SUMMARY_PROMPT.format(
                        question=question, result=result_repr)}]
                ).strip()
            except Exception as exc:  # noqa: BLE001
                ans.error = f"Failed to summarize the result: {exc}"
                yield "error", ans
                return
        yield "answer", ans

    def run(self, question: str, want_plot: bool = True, want_summary: bool = True) -> Answer:
        ans = Answer()
        for _state, ans in self.run_iter(question, want_plot, want_summary):
            pass
        return ans
