"""columnflow_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of columnflow/columnflow.

The reference (https://github.com/columnflow/columnflow) is a columnar,
chunked-batch HEP analysis framework built on awkward-array/coffea.  This
package re-expresses its data model and operator inventory Spark-first:

- nested event tables -> DataFrames with ``ArrayType(StructType(...))`` columns
- ``Route`` column addressing -> compiled ``Column`` expressions
  (:mod:`columnflow_spark.core.routes`)
- the ``ArrayFunction`` registry (uses/produces/deps) ->
  :mod:`columnflow_spark.core.registry`
- calibrator/selector/reducer/producer/categorizer/hist_producer stages ->
  :mod:`columnflow_spark.operators`
- weighted N-dim histograms -> groupBy/agg hist tables
  (:mod:`columnflow_spark.hist`)
- plus large-scale training-data operators, one registry module per
  family under :mod:`columnflow_spark.queries`: vector search and
  compression (``mmdata``), text and media dedup (``textdedup``),
  tokenizers and language models (``tokenlm``), quality scoring
  (``quality``) and sampling/mixing (``mixing``); the typed media
  columns they decode live in :mod:`columnflow_spark.mmdata`.

Everything is declarative DataFrame API so Catalyst does pruning/pushdown;
Python/pandas UDFs are used only where built-ins cannot express the
semantics (documented per call site).
"""

__version__ = "0.1.0"

from columnflow_spark.session import get_spark  # noqa: F401
