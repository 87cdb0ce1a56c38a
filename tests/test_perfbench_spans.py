"""The benchmark's tracer (``perfbench/spans.py``) wraps the program's
functions and methods by name. Installing it here makes a rename of any
wrapped name fail in this suite, in seconds, rather than only in a
traced benchmark run."""

import importlib.util
import os
import sys

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


def test_tracer_wraps_every_name_it_lists(monkeypatch):
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    spans = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, spans)  # its dataclasses look it up
    spec.loader.exec_module(spans)
    tracer = spans.Tracer()
    try:
        tracer.install()
        assert tracer._patches
    finally:
        tracer.uninstall()

    from tailpipe_spark.catalog import Catalog

    assert not hasattr(Catalog.refresh_partition_index, "__wrapped__")  # restored
