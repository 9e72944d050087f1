"""Query plan catalog.

Every operator from SURVEY.md §2 is registered here as a named
:class:`~gcp_de_data_pipeline_cc_spark.plans.registry.QuerySpec` pairing a
DataFrame-first Spark implementation with (where SQL-expressible) an ANSI
SQL oracle that DuckDB can execute over the same parquet tables.

The first read of ``REGISTRY`` from this package imports every plan
module, which populates it.  Importing one plan module does not: a Python
worker that unpickles a UDF from ``plans.llm`` imports ``llm`` and what
it imports, not the rest of the registry.  Registry order is the plan
modules' name order (and that of the modules they import) when
``REGISTRY`` is the first thing a process takes from the package, as the
driver contract does.
"""

import importlib
import pkgutil

from gcp_de_data_pipeline_cc_spark.plans.registry import QuerySpec, query


def __getattr__(name):
    if name != "REGISTRY":
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    # every plan module in name order, quality_composite last (where it
    # has always registered; queries() breaks ties by registry order)
    names = sorted(m.name for m in pkgutil.iter_modules(__path__))
    names.remove("registry")
    names.remove("quality_composite")
    for mod in names + ["quality_composite"]:
        importlib.import_module(f"{__name__}.{mod}")
    from gcp_de_data_pipeline_cc_spark.plans.registry import REGISTRY

    globals()["REGISTRY"] = REGISTRY
    return REGISTRY


__all__ = ["REGISTRY", "QuerySpec", "query"]
