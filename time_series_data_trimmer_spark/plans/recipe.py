"""Recipe & plugin compiler (SURVEY §3.3/§2.11).

The reference's recipe JSON (``{"operations": [OperationRecord…]}``,
main.py:730-794) is its de-facto logical plan: an ordered list of
``filter`` and ``plugin:<name>`` ops replayed eagerly per trial in a
Python loop. Here a recipe compiles into ONE lazy DataFrame transform
chain over the multi-trial frame — O(ops × trials) eager passes become
a single distributed job whose windows all share the trial-key
partitioning (one shuffle total).

Plugin ``derived`` ops evaluate expression strings. The reference uses
``pd.eval`` with no validation (main.py:810-819, README.md:333 lists
this as a known risk); here expressions compile through Spark
``expr()`` after an allowlist validation pass.

Replay quirks of the reference deliberately NOT reproduced (SURVEY
§7.5-8, flagged in tests):
* recipe ``plugin:`` ops applied to the *current* model instead of the
  loop trial (main.py:778-781) — we apply to the frame being built;
* recipe filter params carrying UI leftovers like ``preset``/
  ``apply_selection`` (main.py:775-776) — unknown params are ignored
  by the filter builders, so the leftovers are harmless by design.
"""

from __future__ import annotations

import re
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.operators.filters import apply_filter, available_filters

#: functions permitted inside derived-channel expressions — the numeric
#: scalar surface of the reference (§2.9) plus basic math.
ALLOWED_FUNCTIONS = frozenset(
    {
        "abs", "sqrt", "pow", "power", "exp", "ln", "log", "log10", "log2",
        "sin", "cos", "tan", "asin", "acos", "atan", "atan2", "sinh", "cosh", "tanh",
        "degrees", "radians", "pmod", "mod", "floor", "ceil", "ceiling", "round",
        "least", "greatest", "coalesce", "nullif", "nanvl", "signum", "sign",
        "pi", "e", "isnan", "isnull", "if", "case", "when", "then", "else", "end",
        "and", "or", "not", "between", "in", "is", "null", "true", "false", "cast",
        "double", "float", "int", "bigint", "string", "boolean",
    }
)

_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_FORBIDDEN_RE = re.compile(r"[;`]|--|/\*")


class ExpressionError(ValueError):
    pass


def validate_expression(expr: str, allowed_columns: Sequence[str]) -> str:
    """Allowlist validation for a derived-channel expression: every
    identifier must be a known column or an allowed function; no
    statement separators or comments."""
    if not expr or not expr.strip():
        raise ExpressionError("empty expression")
    if _FORBIDDEN_RE.search(expr):
        raise ExpressionError(f"forbidden token in expression: {expr!r}")
    cols = {c.lower() for c in allowed_columns}
    for tok in _TOKEN_RE.findall(expr):
        low = tok.lower()
        if low in cols or low in ALLOWED_FUNCTIONS:
            continue
        raise ExpressionError(f"unknown identifier {tok!r} in expression {expr!r}")
    return expr


def derived_channel(df: DataFrame, name: str, expr: str) -> DataFrame:
    """E2: append a derived signal channel from a validated expression
    (main.py:810-819 → Spark ``expr`` instead of ``pd.eval``)."""
    validate_expression(expr, df.columns)
    return df.withColumn(name, F.expr(expr))


def apply_plugin_ops(
    df: DataFrame,
    plugin: Mapping,
    *,
    trial_key: str | None = "trial_id",
    time_col: str = "normalized_time",
    sample_rate: float = 120.0,
    signal_columns: Sequence[str] | None = None,
) -> DataFrame:
    """Apply one plugin spec: ops of type ``filter`` | ``derived``
    (main.py:796-820; spec format README.md:239-248)."""
    ops = plugin.get("operations", [plugin])
    for op in ops:
        op_type = op.get("type", "")
        if op_type == "filter":
            channels = op.get("channels") or list(signal_columns or [])
            df = apply_filter(
                df, channels, op.get("filter", "moving_average"), op.get("params", {}),
                trial_key=trial_key, time_col=time_col, sample_rate=sample_rate,
            )
        elif op_type == "derived":
            expr = op.get("expr")
            if expr:
                df = derived_channel(df, op.get("name", "derived"), expr)
    return df


def apply_recipe(
    df: DataFrame,
    recipe: Mapping,
    *,
    plugins: Mapping[str, Mapping] | None = None,
    trial_key: str | None = "trial_id",
    time_col: str = "normalized_time",
    sample_rate: float = 120.0,
    signal_columns: Sequence[str] | None = None,
) -> DataFrame:
    """Compile ``recipe["operations"]`` into one lazy transform chain
    (main.py:744-794). Every op keys its windows on ``trial_key``, so
    the whole chain executes with a single partitioning shuffle."""
    plugins = plugins or {}
    for op in recipe.get("operations", []):
        desc = op.get("description")
        params = dict(op.get("params", {}))
        if desc == "filter":
            channels = params.pop("channels", None) or list(signal_columns or [])
            ftype = params.pop("filter_type", params.pop("filter", "moving_average"))
            # UI leftovers (preset/apply_selection/preview) are ignored by
            # the builders — reference quirk main.py:775-776 made harmless.
            df = apply_filter(
                df, channels, ftype, params,
                trial_key=trial_key, time_col=time_col, sample_rate=sample_rate,
            )
        elif desc and desc.startswith("plugin:"):
            name = desc.split(":", 1)[1]
            if name in plugins:
                df = apply_plugin_ops(
                    df, plugins[name],
                    trial_key=trial_key, time_col=time_col,
                    sample_rate=sample_rate, signal_columns=signal_columns,
                )
        # delete_segment / mark_bad / annotate records are part of history
        # but carry interval state; batch replay applies data-plane ops only
        # (matching the reference, which replays filter/plugin kinds alone,
        # main.py:770-781).
    return df
