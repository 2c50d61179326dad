"""Seeded YAML projects: the compile project and the medallion project.

Both are written as a project tree (pipelines/, presets/, templates/,
blueprints/, expectations/, substitutions/) into an empty directory, so the
engine's `.lhp` caches inside it start cold unless a workload warms them on
purpose.
"""

from __future__ import annotations

import os

import numpy as np
import yaml

from datagen import CUSTOMER_SCHEMA, DOCS_SCHEMA, LINEITEM_SCHEMA, ORDERS_SCHEMA

ENV = "bench"
SECRET_ENV = {"LHP_SECRET_API_INGEST_TOKEN": "tok-bench-001"}

# ---------------------------------------------------------------------------
# shared project furniture


_PRESET = {"defaults": {"variables": {"layer": "bronze", "quality_tag": "raw"}}}

_TEMPLATE = """parameters:
  - name: pipe
    required: true
  - name: src_table
    required: true
  - name: group_col
    required: true
  - name: out_table
    default: agg
pipeline: "{{ pipe }}"
flowgroup: "{{ out_table }}_fg"
actions:
  - name: aggregate
    type: transform
    transform_type: sql
    source: "{{ src_table }}"
    sql: "SELECT {{ group_col }}, COUNT(*) AS n, SUM(o_totalprice) AS total FROM {{ src_table }} GROUP BY {{ group_col }}"
    target: v_agg
  - name: write_agg
    type: write
    source: v_agg
    write_target:
      type: materialized_view
      catalog: ${catalog}
      schema: gold
      table: "{{ out_table }}"
"""

_BLUEPRINT = {
    "name": "ingest_table",
    "parameters": [{"name": "table", "required": True}, {"name": "key_col", "required": True}],
    "flowgroups": [{
        "pipeline": "bp_bronze",
        "flowgroup": "ingest_%{table}",
        "actions": [
            {"name": "load_raw", "type": "load", "target": "v_raw",
             "source": {"type": "sql", "sql": "SELECT * FROM %{table} WHERE %{key_col} IS NOT NULL"}},
            {"name": "write_raw", "type": "write", "source": "v_raw",
             "write_target": {"type": "materialized_view", "catalog": "${catalog}",
                              "schema": "bronze", "table": "%{table}_raw"}},
        ],
    }],
}

_EXPECTATIONS = [
    {"name": "positive_total", "constraint": "o_totalprice > 0", "type": "expect_or_drop"},
    {"name": "has_customer", "constraint": "o_custkey IS NOT NULL", "type": "expect_or_drop"},
]

_EXPECTATIONS_CENTS = [
    {"name": "positive_total", "constraint": "o_totalprice_cents > 0", "type": "expect_or_drop"},
    {"name": "has_customer", "constraint": "o_custkey IS NOT NULL", "type": "expect_or_drop"},
]

_SNAPSHOT_PULLER = '''"""Snapshot source for the snapshot-CDC flowgroups."""


def pull(version):
    return None
'''


def _dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        if isinstance(obj, str):
            f.write(obj)
        else:
            yaml.safe_dump(obj, f, sort_keys=False)


def _furniture(root: str, tokens: dict) -> None:
    _dump(os.path.join(root, "presets", "std_layer.yaml"), _PRESET)
    _dump(os.path.join(root, "templates", "agg_by.yaml"), _TEMPLATE)
    _dump(os.path.join(root, "blueprints", "ingest_table.yaml"), _BLUEPRINT)
    _dump(os.path.join(root, "expectations", "order_checks.yaml"), _EXPECTATIONS)
    _dump(os.path.join(root, "expectations", "orders_cents.yaml"), _EXPECTATIONS_CENTS)
    _dump(os.path.join(root, "snap", "puller.py"), _SNAPSHOT_PULLER)
    _dump(os.path.join(root, "substitutions", f"{ENV}.yaml"), {ENV: tokens})


# ---------------------------------------------------------------------------
# project_compile: several hundred generated flowgroups

KINDS = (
    "mv_chain", "template", "blueprint", "dq_file", "cdc", "snapshot_cdc",
    "batch_quarantine", "sink", "stream", "stream_quarantine",
)
# The mix follows tests/fixtures/golden_project, which has one flowgroup
# of each of its four kinds (mv_chain, template, blueprint, dq_file); every
# other kind the project covers gets the same count.  It is not taken from
# a measured project.


def _mv_chain(i: int) -> dict:
    return {
        "pipeline": f"bronze_{i % 8}", "flowgroup": f"orders_{i}", "presets": ["std_layer"],
        "actions": [
            {"name": "load_orders", "type": "load", "target": "v_orders", "source": {
                "type": "sql",
                "sql": "SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
                       f"o_orderstatus FROM orders WHERE o_totalprice > ${{min_total}} AND o_orderkey % 97 = {i % 97}"}},
            {"name": "tag_layer", "type": "transform", "transform_type": "sql", "source": "v_orders",
             "target": "v_tagged",
             "sql": "SELECT *, '%{layer}' AS layer, '${secret:api/ingest_token}' AS ingest_token, "
                    f"{i} AS rev FROM v_orders"},
            {"name": "write_orders", "type": "write", "source": "v_tagged", "write_target": {
                "type": "materialized_view", "catalog": "${catalog}", "schema": f"bronze_{i % 8}",
                "table": f"orders_tagged_{i}"}},
        ],
    }


def _upstream(i: int, chains: list[int]) -> int:
    earlier = [j for j in chains if j < i]
    return earlier[i % len(earlier)] if earlier else -1


def _compile_flowgroup(kind: str, i: int, up: int):
    """(relative path, spec) of flowgroup `i` of the given kind."""
    src = f"${{catalog}}.bronze_{up % 8}.orders_tagged_{up}" if up >= 0 else "orders"
    src_resolved = f"main.bronze_{up % 8}.orders_tagged_{up}" if up >= 0 else "orders"
    if kind == "mv_chain":
        return f"bronze/orders_{i}.yaml", _mv_chain(i)
    if kind == "template":
        return f"gold/agg_{i}.yaml", {
            "use_template": "agg_by",
            "template_parameters": {"pipe": f"gold_{i % 4}", "src_table": src_resolved,
                                    "group_col": "o_orderstatus", "out_table": f"status_{i}"}}
    if kind == "blueprint":
        return f"bronze/ingest_{i}.yaml", {
            "use_blueprint": "ingest_table",
            "parameters": {"table": f"customer_{i}", "key_col": "c_custkey"}}
    mv = lambda schema, view: {  # noqa: E731
        "name": "write", "type": "write", "source": view, "write_target": {
            "type": "materialized_view", "catalog": "${catalog}", "schema": schema,
            "table": f"{kind}_{i}"}}
    load_up = {"name": "load", "type": "load", "target": "v_src",
               "source": {"type": "delta", "table": src}}
    if kind == "dq_file":
        return f"silver/clean_{i}.yaml", {
            "pipeline": f"silver_{i % 6}", "flowgroup": f"clean_{i}",
            "actions": [load_up,
                        {"name": "dq", "type": "transform", "transform_type": "data_quality",
                         "mode": "dqe", "source": "v_src", "target": "v_clean",
                         "expectations_file": "expectations/order_checks.yaml"},
                        mv(f"silver_{i % 6}", "v_clean")]}
    if kind == "batch_quarantine":
        return f"silver/quarantine_{i}.yaml", {
            "pipeline": f"silver_{i % 6}", "flowgroup": f"quarantine_{i}",
            "actions": [load_up,
                        {"name": "dq", "type": "transform", "transform_type": "data_quality",
                         "mode": "quarantine", "source": "v_src", "target": "v_clean",
                         "quarantine": {"dlq_table": f"main.dlq.orders_{i}", "source_table": "orders"},
                         "expectations_inline": [
                             {"name": "positive_total", "constraint": "o_totalprice > 0", "action": "drop"}]},
                        mv(f"silver_{i % 6}", "v_clean")]}
    if kind == "cdc":
        scd = 1 + i % 2
        cfg = {"keys": ["o_orderkey"], "sequence_by": "seq", "scd_type": scd}
        if scd == 2:
            cfg["track_history_column_list"] = ["o_orderstatus"]
        return f"silver/cdc_{i}.yaml", {
            "pipeline": f"silver_{i % 6}", "flowgroup": f"cdc_{i}",
            "actions": [
                {"name": "feed", "type": "load", "target": "v_feed", "source": {
                    "type": "sql", "sql": f"SELECT o_orderkey, o_orderstatus, o_totalprice, "
                                          f"o_orderkey + {i} AS seq FROM orders"}},
                {"name": "apply", "type": "write", "source": "v_feed", "write_target": {
                    "type": "streaming_table", "catalog": "${catalog}", "schema": f"silver_{i % 6}",
                    "table": f"cdc_{i}", "mode": "cdc", "cdc_config": cfg}}]}
    if kind == "snapshot_cdc":
        return f"silver/snap_{i}.yaml", {
            "pipeline": f"silver_{i % 6}", "flowgroup": f"snap_{i}",
            "actions": [{"name": "apply", "type": "write", "write_target": {
                "type": "streaming_table", "catalog": "${catalog}", "schema": f"silver_{i % 6}",
                "table": f"snap_{i}", "mode": "snapshot_cdc",
                "snapshot_cdc_config": {"keys": ["id"], "stored_as_scd_type": 1 + i % 2,
                                        "source_function": {"file": "snap/puller.py",
                                                            "function": "pull"}}}}]}
    if kind == "sink":
        return f"egress/sink_{i}.yaml", {
            "pipeline": "egress", "flowgroup": f"sink_{i}",
            "actions": [
                {"name": "ld", "type": "load", "target": "v",
                 "source": {"type": "sql", "sql": f"SELECT o_orderkey AS key, CAST(o_totalprice AS STRING) "
                                                  f"AS value FROM orders WHERE o_orderkey % 13 = {i % 13}"}},
                {"name": "s1", "type": "write", "source": "v", "write_target": {
                    "type": "sink", "sink_type": "delta", "path": f"out/delta_{i}"}},
                {"name": "s2", "type": "write", "source": "v", "write_target": {
                    "type": "sink", "sink_type": "kafka", "topic": f"orders_{i}",
                    "options": {"simulate_path": f"out/kafka_{i}"}}}]}
    stream_load = {"name": "ld", "type": "load", "target": "v_raw", "readMode": "stream",
                   "source": {"type": "cloudfiles", "path": f"${{landing}}/feed_{i}", "format": "json",
                              "schema": "id BIGINT, amt DOUBLE",
                              "options": {"cloudFiles.maxFilesPerTrigger": "10"}}}
    st = {"name": "wr", "type": "write", "source": "v_clean", "readMode": "stream", "write_target": {
        "type": "streaming_table", "catalog": "${catalog}", "schema": "stream",
        "table": f"{kind}_{i}", "mode": "standard"}}
    exp = [{"name": "pos", "constraint": "amt > 0", "type": "expect_or_drop"}]
    if kind == "stream":
        return f"stream/st_{i}.yaml", {
            "pipeline": "stream", "flowgroup": f"st_{i}",
            "actions": [stream_load,
                        {"name": "dq", "type": "transform", "transform_type": "data_quality",
                         "source": "v_raw", "target": "v_clean", "expectations_inline": exp}, st]}
    assert kind == "stream_quarantine", kind
    return f"stream/sq_{i}.yaml", {
        "pipeline": "stream", "flowgroup": f"sq_{i}",
        "actions": [stream_load,
                    {"name": "dq", "type": "transform", "transform_type": "data_quality",
                     "mode": "quarantine", "source": "v_raw", "target": "v_clean",
                     "quarantine": {"dlq_table": f"main.dlq.stream_{i}"}, "expectations_inline": exp},
                    st]}


def compile_kinds(seed: int, n: int) -> list[str]:
    """The kind of each of the `n` flowgroups: a fixed count per kind (so
    every seed compiles the same mix), in seeded order.  The first is always
    an mv_chain, so every reader kind has an upstream table."""
    counts = [n // len(KINDS)] * len(KINDS)
    counts[0] += n - sum(counts)
    kinds = [k for k, c in zip(KINDS, counts) for _ in range(c)]
    rest = list(np.random.default_rng([seed, 7001]).permutation(kinds[1:]))
    return [kinds[0]] + [str(k) for k in rest]


def write_compile_project(root: str, seed: int, n: int) -> list[str]:
    """Write the compile project; returns the flowgroup file paths in order."""
    _furniture(root, {"catalog": "main", "min_total": "1000", "landing": "/data/landing"})
    kinds = compile_kinds(seed, n)
    chains = [i for i, k in enumerate(kinds) if k == "mv_chain"]
    paths = []
    for i, kind in enumerate(kinds):
        rel, spec = _compile_flowgroup(kind, i, _upstream(i, chains))
        p = os.path.join(root, "pipelines", rel)
        _dump(p, spec)
        paths.append(p)
    return paths


def edit_flowgroup(path: str, rev: int) -> None:
    """The developer-loop edit: change one SQL literal in an mv_chain file."""
    with open(path) as f:
        text = f.read()
    head, sep, tail = text.partition(" AS rev FROM v_orders")
    if not sep:
        raise ValueError(f"{path} is not an mv_chain flowgroup")
    num_start = head.rfind(", ") + 2
    with open(path, "w") as f:
        f.write(head[:num_start] + str(rev) + sep + tail)


# ---------------------------------------------------------------------------
# medallion project for full_refresh / incremental_update

ORDERS_DLQ = "main.dlq.orders"
GOLD = {
    "revenue_by_nation": (
        "SELECT n.n_name, c.c_mktsegment, COUNT(*) AS n_orders, "
        "SUM(o.o_totalprice_cents) AS revenue_cents "
        "FROM main.silver.orders o "
        "JOIN (SELECT * FROM main.silver.customers WHERE __end_at IS NULL) c "
        "ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY n.n_name, c.c_mktsegment"
    ),
    "order_status": (
        "SELECT o_orderstatus, COUNT(*) AS n_orders, SUM(o_totalprice_cents) AS total_cents "
        "FROM main.silver.orders GROUP BY o_orderstatus"
    ),
    "pricing_summary": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "SUM(l_extendedprice_cents) AS sum_base_cents, "
        "SUM(l_extendedprice_cents * (100 - l_discount_pct)) AS sum_disc_centicents, "
        "COUNT(*) AS n_lines FROM main.bronze.lineitem GROUP BY l_returnflag, l_linestatus"
    ),
}
KNN_QUERIES = list(range(1, 9))
KNN_K = 5
# flowgroups each incremental round runs (the rest only run in a refresh)
INCREMENTAL = (
    "bronze/orders_ingest", "silver/orders_quality", "silver/customers_scd2",
    "gold/revenue_by_nation", "gold/order_status",
)


def _gold(name: str) -> dict:
    return {"pipeline": "gold", "flowgroup": name, "actions": [
        {"name": "compute", "type": "transform", "transform_type": "sql", "target": "v_out",
         "sql": GOLD[name]},
        {"name": "publish", "type": "write", "source": "v_out", "write_target": {
            "type": "materialized_view", "catalog": "${catalog}", "schema": "gold", "table": name}}]}


def _medallion_specs() -> dict[str, dict]:
    cf = lambda sub, schema: {  # noqa: E731
        "type": "cloudfiles", "path": f"${{landing}}/{sub}", "format": "parquet", "schema": schema}
    st = lambda view, table, **extra: {  # noqa: E731
        "name": "write", "type": "write", "source": view, "readMode": "stream", "write_target": {
            "type": "streaming_table", "catalog": "${catalog}", "table": table, **extra}}
    return {
        "bronze/orders_ingest": {"pipeline": "bronze", "flowgroup": "orders_ingest", "actions": [
            {"name": "land", "type": "load", "readMode": "stream", "target": "v_orders",
             "source": cf("orders", ORDERS_SCHEMA)},
            st("v_orders", "orders", schema="bronze", mode="standard")]},
        "bronze/lineitem_ingest": {"pipeline": "bronze", "flowgroup": "lineitem_ingest", "actions": [
            {"name": "land", "type": "load", "readMode": "stream", "target": "v_lines",
             "source": cf("lineitem", LINEITEM_SCHEMA)},
            st("v_lines", "lineitem", schema="bronze", mode="standard")]},
        "silver/orders_quality": {"pipeline": "silver", "flowgroup": "orders_quality", "actions": [
            {"name": "read_bronze", "type": "load", "readMode": "stream", "target": "v_bronze",
             "source": {"type": "delta", "catalog": "${catalog}", "schema": "bronze", "table": "orders"}},
            {"name": "quality", "type": "transform", "transform_type": "data_quality",
             "mode": "quarantine", "source": "v_bronze", "target": "v_clean",
             "quarantine": {"dlq_table": ORDERS_DLQ, "source_table": "orders"},
             "expectations_file": "expectations/orders_cents.yaml"},
            st("v_clean", "orders", schema="silver", mode="standard")]},
        "silver/customers_scd2": {"pipeline": "silver", "flowgroup": "customers_scd2", "actions": [
            {"name": "land", "type": "load", "readMode": "stream", "target": "v_changes",
             "source": cf("customers", CUSTOMER_SCHEMA)},
            st("v_changes", "customers", schema="silver", mode="cdc",
               cdc_config={"keys": ["c_custkey"], "sequence_by": "seq", "scd_type": 2})]},
        "gold/revenue_by_nation": _gold("revenue_by_nation"),
        "gold/order_status": _gold("order_status"),
        "gold/pricing_summary": _gold("pricing_summary"),
        "curation/doc_neighbors": {"pipeline": "curation", "flowgroup": "doc_neighbors", "actions": [
            {"name": "land", "type": "load", "readMode": "batch", "target": "v_docs",
             "source": cf("docs", DOCS_SCHEMA)},
            {"name": "score", "type": "transform", "transform_type": "text", "source": "v_docs",
             "target": "v_scored", "text": {"method": "quality_score"}},
            {"name": "dedup", "type": "transform", "transform_type": "dedup", "source": "v_scored",
             "target": "v_unique", "dedup": {"method": "exact"}},
            {"name": "vectors", "type": "transform", "transform_type": "sql", "target": "v_vecs",
             "source": ["v_docs", "v_unique"],
             "sql": "SELECT d.doc_id, d.embedding FROM v_docs d JOIN v_unique u ON d.doc_id = u.doc_id"},
            {"name": "neighbors", "type": "transform", "transform_type": "knn", "source": "v_vecs",
             "target": "v_nn", "knn": {"method": "bruteforce", "query_ids": KNN_QUERIES,
                                       "k": KNN_K, "id_col": "doc_id"}},
            {"name": "publish_unique", "type": "write", "source": "v_unique", "write_target": {
                "type": "materialized_view", "catalog": "${catalog}", "schema": "curation",
                "table": "docs_unique"}},
            {"name": "publish_nn", "type": "write", "source": "v_nn", "write_target": {
                "type": "materialized_view", "catalog": "${catalog}", "schema": "curation",
                "table": "doc_neighbors"}}]},
        "tests/quality_checks": {"pipeline": "tests", "flowgroup": "quality_checks", "actions": [
            {"name": "orders_unique", "type": "test", "test_type": "uniqueness", "on_violation": "fail",
             "source": {"source": "main.silver.orders", "columns": ["o_orderkey"]}},
            {"name": "orders_complete", "type": "test", "test_type": "completeness",
             "on_violation": "fail",
             "source": {"source": "main.silver.orders", "required_columns": ["o_orderkey", "o_custkey"]}},
            {"name": "status_range", "type": "test", "test_type": "range", "on_violation": "fail",
             "source": {"source": "main.gold.order_status", "column": "n_orders", "min_value": 1}}]},
    }


def write_medallion_project(root: str, landing: str) -> None:
    _furniture(root, {"catalog": "main", "landing": landing})
    for rel, spec in _medallion_specs().items():
        _dump(os.path.join(root, "pipelines", rel + ".yaml"), spec)
