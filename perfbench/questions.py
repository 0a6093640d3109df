"""The NL workload's question catalogue and the scripted model serving it.

Each question maps to one Spark SQL statement that DuckDB also runs
unchanged, so the same text is the oracle.  Money aggregates sum DECIMAL
casts of the two-decimal columns, which makes them exact in both engines.
The last two questions match no rows and take the pipeline's one-call
empty-result short-circuit.
"""

from __future__ import annotations

import json

REVENUE = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

CATALOGUE: list[tuple[str, str]] = [
    (
        "What was the revenue per nation in ASIA for orders placed in 1994?",
        "SELECT n_name, SUM(" + REVENUE + ") AS revenue FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' AND o_orderdate >= DATE '1994-01-01' "
        "AND o_orderdate < DATE '1995-01-01' GROUP BY n_name ORDER BY revenue DESC, n_name",
    ),
    (
        "How many orders were placed per order priority in 1995?",
        "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders "
        "WHERE YEAR(o_orderdate) = 1995 GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ),
    (
        "Summarise shipped quantity and base price per return flag and line status.",
        "SELECT l_returnflag, l_linestatus, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty, "
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_base_price, COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= DATE '1997-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    ),
    (
        "Who are the ten customers with the highest total order value?",
        "SELECT c_name, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total FROM customer "
        "JOIN orders ON c_custkey = o_custkey GROUP BY c_name ORDER BY total DESC, c_name LIMIT 10",
    ),
    (
        "How many customers per market segment have a positive account balance?",
        "SELECT c_mktsegment, COUNT(*) AS customers FROM customer WHERE c_acctbal > 0 "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
    ),
    (
        "Which five nations have the most suppliers?",
        "SELECT n_name, COUNT(*) AS suppliers FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY suppliers DESC, n_name LIMIT 5",
    ),
    (
        "Which ten brands have the most parts larger than size 40?",
        "SELECT p_brand, COUNT(*) AS parts FROM part WHERE p_size > 40 "
        "GROUP BY p_brand ORDER BY parts DESC, p_brand LIMIT 10",
    ),
    (
        "What quantity of PROMO parts was shipped each year?",
        "SELECT YEAR(l_shipdate) AS ship_year, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty "
        "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_type LIKE 'PROMO%' "
        "GROUP BY YEAR(l_shipdate) ORDER BY ship_year",
    ),
    (
        "How many customers are on a postpaid plan?",
        "SELECT COUNT(DISTINCT customer_id) AS postpaid_customers FROM subscriptions "
        "WHERE plan_id IN (SELECT plan_id FROM plans WHERE plan_type = 'Postpaid')",
    ),
    (
        "Compare recharge revenue between prepaid and postpaid plans.",
        "SELECT p.plan_type, SUM(CAST(r.amount AS DECIMAL(12,2))) AS revenue FROM recharges r "
        "JOIN subscriptions s ON r.customer_id = s.customer_id JOIN plans p ON s.plan_id = p.plan_id "
        "GROUP BY p.plan_type ORDER BY p.plan_type",
    ),
    (
        "How many customers registered in 2022?",
        "SELECT COUNT(*) AS customers FROM customers "
        "WHERE registration_date BETWEEN DATE '2022-01-01' AND DATE '2022-12-31'",
    ),
    (
        "How much mobile data was used per plan?",
        "SELECT p.plan_name, SUM(CAST(u.data_used_mb AS DECIMAL(14,2))) AS data_mb "
        "FROM usage_records u JOIN subscriptions s ON u.customer_id = s.customer_id "
        "JOIN plans p ON s.plan_id = p.plan_id GROUP BY p.plan_name ORDER BY p.plan_name",
    ),
    (
        "Which orders have a negative total price?",
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 0",
    ),
    (
        "Which customers registered after 2030?",
        "SELECT customer_id, name FROM customers WHERE registration_date > DATE '2030-01-01'",
    ),
]

PLOT_REPLY = json.dumps(
    {"plottable": True, "chart_type": "bar", "title": "Result", "x_label": "key", "y_label": "value"}
)
SUMMARY_REPLY = "The result table above answers the question."


class CatalogueModel:
    """A ``nl.serving`` chat model: the SQL prompt's question is looked up
    in the catalogue; plot and summary prompts get fixed replies."""

    def __init__(self):
        self.sql = dict(CATALOGUE)

    def __call__(self, messages, max_tokens: int, temperature: float) -> str:
        prompt = messages[-1]["content"]
        if prompt.startswith("You are an expert SQL generator"):
            question = prompt.rsplit("Question: ", 1)[1].split("\nSQLQuery:", 1)[0]
            return f"```sql\n{self.sql[question]};\n```"
        if prompt.startswith("Decide if"):
            return PLOT_REPLY
        return SUMMARY_REPLY
