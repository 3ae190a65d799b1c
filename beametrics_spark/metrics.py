"""Metric value + label expression builders.

Reference semantics (SURVEY.md §2.1 rows 4-5):
  - value: COUNT contributes literal 1 per matching row
           (pipeline.py:206-207 — count is implemented as sum-of-ones);
           SUM contributes float(msg.get(field, 0)) — missing field ⇒ 0
           (pipeline.py:208).
  - labels: static labels ∪ dynamic labels where each dynamic label is
           str(msg.get(field_name, "")) — missing field ⇒ "" and the
           dynamic value WINS on key collision (pipeline.py:188-198,
           metrics.py:40-48).
  - label set: carried through the aggregate as ONE ARRAY<STRING> of
           values in sorted-label-name order (labels_key_expr); the
           plan builder rebuilds the MAP<STRING,STRING> after it.

Where the reference's ``float(...)`` would raise on a non-numeric field
(crashing the Beam bundle), we use try_cast → 0.0: a distributed engine
must not abort a 100-TB job on one bad row. Documented deviation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beametrics_spark.config import MetricDefinition, MetricType
from beametrics_spark.filters import FieldResolver, ResolvedField


def value_expr(definition: MetricDefinition, resolve: FieldResolver) -> Column:
    """The per-row contribution to the metric aggregate (always DOUBLE)."""
    if definition.type == MetricType.COUNT:
        return F.lit(1.0)
    rf: ResolvedField = resolve(definition.field)
    col = rf.col if isinstance(rf.dtype, T.NumericType) else rf.col.try_cast("double")
    return F.coalesce(col.cast("double"), F.lit(0.0))


def _label_value(rf: ResolvedField) -> Column:
    """str(msg.get(field, "")) — stringify, missing ⇒ empty string."""
    return F.coalesce(rf.col.cast("string"), F.lit(""))


def label_names(definition: MetricDefinition) -> list[str]:
    """Static ∪ dynamic label names, sorted — the element order of
    ``labels_key_expr`` and of the output map's keys.

    Sorted order makes the value array a canonical grouping key, the
    analog of the reference's tuple(sorted(labels.items())) at
    pipeline.py:172.
    """
    return sorted({**definition.metric_labels, **definition.dynamic_labels})


def labels_key_expr(definition: MetricDefinition, resolve: FieldResolver) -> Column:
    """ARRAY<STRING> of label values in ``label_names`` order.

    Spark cannot group by MapType, and carrying a map through the
    aggregation (first(labels)) forces sort-based aggregation — so the
    pre-aggregation path carries ONLY this array; the map is rebuilt
    after the aggregate. An array needs no separator, so any label value
    (control bytes included) round-trips. Within one metric_id the label
    names are fixed by config, and the grouping key always includes
    metric_id, so different name sets never collide. Dynamic labels win
    on key collision (pipeline.py:198).
    """
    cap = definition.label_cardinality_cap
    values: list[Column] = []
    for name in label_names(definition):
        field_name = definition.dynamic_labels.get(name)
        if field_name is None:
            values.append(F.lit(str(definition.metric_labels[name])))
            continue
        value = _label_value(resolve(field_name))
        if cap is not None:
            # cardinality guard: bounded label domain via deterministic
            # hash bucketing (state/backend protection, SURVEY.md §4.3)
            value = F.concat(
                F.lit("b"),
                F.pmod(F.xxhash64(value), F.lit(int(cap))).cast("string"),
            )
        values.append(value)
    return F.array(*values).cast("array<string>")
