"""Import every query module for its registration side effects.

Most queries sit in the module named by the first word after ``q_``:

* ``stats`` — stats
* ``aggregates`` — agg, pivot, unpivot, rollup, skyline
* ``windows`` — window, timeseries
* ``events`` — events, orders, customer, lineitem, basket, rules
* ``relational`` — join, set, interval, lateral, merge, scd2, table,
  secondary
* ``text`` — text, tokenizer
* ``llm_ops`` — dedup, sim, knn, embed, multimodal
* ``graph`` — graph, entity
* ``pipeline_ops`` — mix, sample, quality, validate, profile
* ``sketches``, ``tpch_more``, ``scalars``, ``sinks``, ``storage_ops``
  — sketch, tpch, scalar, source, encode

The operator-centred modules (``llm_ops``, ``pipeline_ops``,
``tokenizer``, the ``*_xengine`` ANN twins, ``ivm``, ``maplejuice_q``,
``sql_surface``, ``streaming_twins``) also hold queries named for the
operator they exercise.  A new module is picked up without editing this
file.
"""

import importlib
import pkgutil

for _mod in pkgutil.iter_modules(__path__):
    importlib.import_module(f"{__name__}.{_mod.name}")
