"""Config-object layer (SURVEY.md §2.1 S12): the reference's YAML configs
are its de-facto logical plans — target schema/table, typed column list,
per-server and per-year overrides (create_table.R:20-68,
load_table_from_file.R:25-68,208-317, copy_into.R:208-270).

Precedence (load_table_from_file.R:495-541): explicit argument >
server-scoped key > year-scoped key > global key.
"""

from __future__ import annotations

from typing import Any


def resolve_config(
    config: dict[str, Any],
    keys: list[str],
    server: str | None = None,
    year: int | str | None = None,
    overrides: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Resolve ``keys`` against the reference's hierarchy:
    override argument > ``config[server][key]`` > ``config[year][key]`` >
    ``config[key]`` (load_table_from_file.R:208-278,495-541)."""
    overrides = overrides or {}
    out: dict[str, Any] = {}
    server_scope = config.get(server, {}) if server else {}
    year_scope = config.get(str(year), config.get(year, {})) if year is not None else {}
    if not isinstance(server_scope, dict):
        server_scope = {}
    if not isinstance(year_scope, dict):
        year_scope = {}
    for k in keys:
        if k in overrides and overrides[k] is not None:
            out[k] = overrides[k]
        elif k in server_scope:
            out[k] = server_scope[k]
        elif k in year_scope:
            out[k] = year_scope[k]
        elif k in config:
            out[k] = config[k]
        else:
            out[k] = None
    return out


#: reference T-SQL type -> Spark DDL type (create_table.R YAML `vars`;
#: classification table R/etl_qa_run_pipeline.R:1110-1142)
TSQL_TO_SPARK: dict[str, str] = {
    "bit": "boolean",
    "tinyint": "tinyint",
    "smallint": "smallint",
    "int": "int",
    "bigint": "bigint",
    "real": "float",
    "float": "double",
    "smallmoney": "decimal(10,4)",
    "money": "decimal(19,4)",
    "date": "date",
    "datetime": "timestamp",
    "datetime2": "timestamp",
    "smalldatetime": "timestamp",
    "time": "string",
    "uniqueidentifier": "string",
    "text": "string",
    "ntext": "string",
}


def tsql_type_to_spark(t: str) -> str:
    """Map a declared T-SQL type (as appears in reference YAML ``vars``)
    to a Spark SQL DDL type. VARCHAR(n)/NVARCHAR/CHAR collapse to string;
    DECIMAL/NUMERIC(p,s) pass through."""
    low = t.strip().lower()
    base = low.split("(")[0].strip()
    if base in ("varchar", "nvarchar", "char", "nchar", "binary", "varbinary", "image"):
        return "string" if base not in ("binary", "varbinary", "image") else "binary"
    if base in ("decimal", "numeric"):
        inner = low[low.find("(") :] if "(" in low else "(10,0)"
        return f"decimal{inner}"
    return TSQL_TO_SPARK.get(base, "string")
