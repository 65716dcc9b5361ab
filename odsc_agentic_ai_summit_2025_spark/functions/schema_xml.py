"""Graph-schema introspection → XML rendering (SURVEY §2.7 F13;
reference src/utils.py:37-105).

The reference introspects Kuzu's catalog into a dict of node/rel
tables with typed properties, then renders XML for LLM prompting.
Spark-first, the same introspection reads ``DataFrame.schema`` off
the registered node/edge views — a driver-side string build, not a
data-plane op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_TYPE_NAMES = {
    T.StringType: "STRING",
    T.LongType: "INT64",
    T.IntegerType: "INT32",
    T.DoubleType: "DOUBLE",
    T.FloatType: "FLOAT",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.BooleanType: "BOOL",
}


def _type_name(dt: T.DataType) -> str:
    return _TYPE_NAMES.get(type(dt), dt.simpleString().upper())


def schema_dict(
    nodes: dict[str, DataFrame],
    edges: dict[str, tuple[str, str, DataFrame]],
) -> dict:
    """utils.get_schema_dict parity: {nodes: [...], edges: [...]}
    with per-property logical types."""
    return {
        "nodes": [
            {
                "label": label,
                "properties": [
                    {"name": f.name, "type": _type_name(f.dataType)}
                    for f in df.schema.fields
                ],
            }
            for label, df in nodes.items()
        ],
        "edges": [
            {
                "label": label,
                "from": src,
                "to": dst,
                "properties": [
                    {"name": f.name, "type": _type_name(f.dataType)}
                    for f in df.schema.fields
                    if f.name not in ("src", "dst")
                ],
            }
            for label, (src, dst, df) in edges.items()
        ],
    }


def schema_xml(d: dict) -> str:
    """utils.get_schema_xml parity: nodes then rels, properties as
    child elements."""
    lines = ["<schema>", "  <nodes>"]
    for n in d["nodes"]:
        lines.append(f'    <node label="{n["label"]}">')
        for p in n["properties"]:
            lines.append(f'      <property name="{p["name"]}" type="{p["type"]}"/>')
        lines.append("    </node>")
    lines.append("  </nodes>")
    lines.append("  <rels>")
    for e in d["edges"]:
        lines.append(
            f'    <rel label="{e["label"]}" from="{e["from"]}" to="{e["to"]}">'
        )
        for p in e["properties"]:
            lines.append(f'      <property name="{p["name"]}" type="{p["type"]}"/>')
        lines.append("    </rel>")
    lines.append("  </rels>")
    lines.append("</schema>")
    return "\n".join(lines)


def fhir_graph_schema_xml(graph) -> str:
    """Render the FhirGraph's catalog (operators/graph.py) the way
    the reference prompts with it: node and edge tables, and each
    edge's endpoints, as ``operators.graph.EDGE_ENDPOINTS`` declares
    them."""
    from ..operators.graph import EDGE_ENDPOINTS, NODE_KEYS

    tables = graph.tables()
    nodes = {k: tables[k] for k in NODE_KEYS}
    edges = {
        k: (src, dst, tables[k]) for k, (src, dst) in EDGE_ENDPOINTS.items()
    }
    return schema_xml(schema_dict(nodes, edges))
