"""Hostile inputs must come back as one row inside fixed resources.

Each case builds its document and extracts it in a fresh subprocess
limited to 1 GB of address space and 5 s of CPU, so a blow-up in either
kills that process (or ends in MemoryError) instead of the test run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import json, resource, sys, zlib

resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
resource.setrlimit(resource.RLIMIT_CPU, (5, 5))

from delphi_pdf_parser_spark.fixtures import simple_doc
from delphi_pdf_parser_spark.pdfcore import extract_text

MB = 1 << 20
TAIL = b"BT /F1 12 Tf 72 720 Td (after) Tj ET"
case = sys.argv[1]
if case == "flate_whitespace":
    content = b" " * (50 * MB) + TAIL
    b, cat = simple_doc(
        content, filters="/FlateDecode", encoded=zlib.compress(content, 9)
    )
elif case == "comment_before_dict":
    b, cat = simple_doc(
        b"/P %" + b"c" * (20 * MB) + b"\n<< /MCID 0 >> BDC " + TAIL + b" EMC"
    )
elif case == "comment_in_inline_dict":
    b, cat = simple_doc(
        b"/P << /MCID 0 %" + b"c" * (50 * MB) + b"\n>> BDC " + TAIL + b" EMC"
    )
res = extract_text(b.build_classic(cat))
print(json.dumps([res.status, res.text, res.failures]))
"""


@pytest.mark.parametrize(
    "case", ["flate_whitespace", "comment_before_dict", "comment_in_inline_dict"]
)
def test_hostile_lexing_stays_in_budget(case):
    env = dict(os.environ, PYTHONPATH=_REPO, OPENBLAS_NUM_THREADS="1")
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, case],
        capture_output=True,
        text=True,
        cwd=_REPO,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, (proc.returncode, proc.stderr[-2000:])
    status, text, failures = json.loads(proc.stdout)
    assert (status, text, failures) == ("ok", "after\r\n", {})
