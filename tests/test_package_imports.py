"""``import verde_spark`` loads the spatial engine only; the web-text
names resolve on first attribute access."""

import json
import os
import subprocess
import sys

import pytest

import verde_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str):
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout)


def test_import_leaves_text_stack_unloaded():
    loaded = _run(
        "import json, sys, verde_spark\n"
        "print(json.dumps(sorted(m for m in sys.modules if m.startswith('verde_spark'))))"
    )
    text_stack = {
        "verde_spark.pipelines",
        "verde_spark.streaming",
        "verde_spark.functions.text",
        "verde_spark.functions.urls",
        "verde_spark.operators.dedup",
        "verde_spark.operators.crawl",
    }
    assert "verde_spark.operators.spline" in loaded
    assert not text_stack & set(loaded)


def test_every_exported_name_resolves():
    got = _run(
        "import json, sys, verde_spark as v\n"
        "missing = [n for n in v.__all__ if not hasattr(v, n)]\n"
        "from verde_spark import dedup_url\n"
        "from verde_spark.functions.urls import dedup_url as direct\n"
        "print(json.dumps([missing, dedup_url is direct,"
        " 'verde_spark.operators.dedup' in sys.modules]))"
    )
    assert got == [[], True, True]
    with pytest.raises(AttributeError, match="no_such_name"):
        verde_spark.no_such_name
