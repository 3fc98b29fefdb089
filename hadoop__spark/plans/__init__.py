"""Analysis plane: lineage extraction over Spark's own parsed logical plans.

The reference tool (``LineParser``, reference README.md:100-844) walks a
raw Hive ANTLR AST with explicit clause stacks.  This package gets the
same results from Spark's parser instead: each statement goes through
``sessionState().sqlParser().parsePlan`` (driver-side only, nothing
executes), the JVM plan tree crosses py4j once as ``toJSON()`` and is
rebuilt as lightweight Python nodes (:mod:`jbridge`), and a recursive
walker with proper lexical scoping (:mod:`lineage`) emits input/output
tables, column-level lineage edges and reference-format condition
strings (:mod:`render`).
"""

from hadoop__spark.plans.lineage import (
    ColLine,
    LineageAnalyzer,
    LineageError,
    LineageResult,
)

__all__ = ["ColLine", "LineageAnalyzer", "LineageError", "LineageResult"]
