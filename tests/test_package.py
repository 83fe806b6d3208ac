"""The `spark-submit --py-files dist/engine.zip` path: the zip that
tools/package.py builds must import (installing the engine's stat-gated
zipimporter.invalidate_caches), load its packaged model and extract a page
with nothing but the zip on PYTHONPATH.  No JVM."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
import zipimport
import arabic_ocr_spark
assert arabic_ocr_spark.__file__.startswith(sys.argv[1]), arabic_ocr_spark.__file__
# importing the engine from the zip installs the stat-gated invalidate_caches
from arabic_ocr_spark import _zipcache
assert isinstance(arabic_ocr_spark.__loader__, zipimport.zipimporter)
assert (sys.version_info >= (3, 13)
        or zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches)
from arabic_ocr_spark.kernel.classifier import CharModel
from arabic_ocr_spark.kernel.pipeline import extract_page
from arabic_ocr_spark.sources.codec import decode_payload, encode_payload
from arabic_ocr_spark.sources.glyphs import compose_text_image
img, expected = compose_text_image(["abc defg", "hij Lmn"])
res = extract_page(decode_payload(encode_payload(img)), CharModel.load())
assert res.ok and res.text == expected, (res.ok, res.err, res.text, expected)
"""


def test_engine_zip_runs_standalone(tmp_path):
    zip_path = str(tmp_path / "engine.zip")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "package.py"), zip_path],
                   check=True, capture_output=True)
    env = dict(os.environ, PYTHONPATH=zip_path)
    run = subprocess.run([sys.executable, "-c", _PROBE, zip_path], cwd=tmp_path, env=env,
                         capture_output=True, text=True)
    assert run.returncode == 0, run.stderr
