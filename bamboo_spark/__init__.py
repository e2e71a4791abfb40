"""bamboo_spark — a PySpark-native analytics engine for nested data.

A from-scratch, Spark-first re-expression of the capabilities of the
reference library mvilim/bamboo (nested-format ingestion + the ``flatten``
operator), extended with the relational surface and LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns)
that a 100 TB training-data pipeline needs.

Design: a *library-level* engine. Every operator is declared through the
DataFrame API so Catalyst handles predicate pushdown, nested-schema
pruning, join strategy selection, and whole-stage codegen. No RDDs, no
custom Catalyst rules; Python touches data only through Arrow-batched
Pandas UDFs on genuinely non-relational paths.

Public API parity map (reference → here):
  bamboo.from_json / from_avro / from_pbd / from_arrow / from_object
    → same names here (avro/pbd use pure-Python decoders, no connector;
      see sources/).
  Node.flatten(flatten_strategy, name_strategy, join, include, exclude)
    → Dataset.flatten(...) with identical semantics plus a working
      JoinType.OUTER (the reference declares it but raises
      NotImplementedError, reference python/bamboo/nodes.py:326-327).
"""

from bamboo_spark.clusions import Clusion, ClusionError, parse_clusions
from bamboo_spark.dataset import Dataset
from bamboo_spark.flatten import FlattenStrategy, JoinType
from bamboo_spark.naming import NameStrategy, column_names
from bamboo_spark.plans import PlanViolation, audit_plan
from bamboo_spark.session import get_spark
from bamboo_spark.sources.arrow import from_arrow
from bamboo_spark.sources.avro import from_avro, read_avro_py
from bamboo_spark.sources.flat import read_csv, read_orc, read_parquet, read_text, read_union, read_xml
from bamboo_spark.sources.json import from_json, read_json
from bamboo_spark.sources.obj import from_object
from bamboo_spark.sources.pbd import from_pbd, read_pbd

__all__ = [
    "PlanViolation",
    "audit_plan",
    "Clusion",
    "ClusionError",
    "Dataset",
    "FlattenStrategy",
    "JoinType",
    "NameStrategy",
    "column_names",
    "from_arrow",
    "from_avro",
    "from_json",
    "from_object",
    "from_pbd",
    "get_spark",
    "parse_clusions",
    "read_avro_py",
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
    "read_pbd",
    "read_text",
    "read_union",
    "read_xml",
]

__version__ = "0.1.0"
