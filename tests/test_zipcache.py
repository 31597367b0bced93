"""The stat-gated zip directory re-read (``functions/zipcache.py``).

Each check runs in a fresh interpreter, so the importers of the pytest
process are never gated by this test. The program builds two zip archives
holding one package each, imports from both, and counts
``zipimport._read_directory`` calls per archive across
``importlib.invalidate_caches()``: the stock importer re-reads each
archive on every call, the gated one only an archive whose stat changed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROGRAM = r"""
import collections, importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from node_cdc_nats_spark.functions.zipcache import gate_zip_rereads

tmp = sys.argv[1]
reads = collections.Counter()
real_read = zipimport._read_directory

def counting_read(archive):
    reads[os.path.basename(archive)] += 1
    return real_read(archive)

zipimport._read_directory = counting_read

def build(path, pkg, modules, replace=True):
    # replace=True swaps a new file in by rename (new inode); False
    # rewrites the same inode in place.
    target = path + ".part" if replace else path
    with zipfile.ZipFile(target, "w") as zf:
        zf.writestr(pkg + "/__init__.py", "")
        for m in modules:
            zf.writestr(pkg + "/" + m + ".py", "NAME = " + repr(m) + "\n")
    if replace:
        os.replace(target, path)

def invalidate(times=1):
    reads.clear()
    for _ in range(times):
        importlib.invalidate_caches()
    return dict(reads)

def gated():
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)

out = {{}}
a, b = os.path.join(tmp, "a.zip"), os.path.join(tmp, "b.zip")
build(a, "zpkg", ["one"])
build(b, "ypkg", ["uno"])
sys.path[:0] = [a, b]
import zpkg.one, ypkg.uno

# Without zipimport's private directory cache the gate stays out.
cache = zipimport._zip_directory_cache
del zipimport._zip_directory_cache
gate_zip_rereads()
out["installed_without_cache"] = gated()
zipimport._zip_directory_cache = cache

out["stock"] = invalidate(2)
gate_zip_rereads()
out["installed"] = gated()
out["gated"] = invalidate(3)
first = zipimport.zipimporter.invalidate_caches
gate_zip_rereads()
out["second_install_same_function"] = zipimport.zipimporter.invalidate_caches is first
out["after_second_install"] = invalidate()

build(a, "zpkg", ["one", "two"])
out["after_replace"] = invalidate()
import zpkg.two
out["two"] = zpkg.two.NAME

build(a, "zpkg", ["one", "two", "three"], replace=False)
out["after_rewrite"] = invalidate()
import zpkg.three
out["three"] = zpkg.three.NAME
out["unchanged_again"] = invalidate(2)
print(json.dumps(out))
"""


def test_gate_rereads_only_changed_archives(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", PROGRAM.format(repo=REPO), str(tmp_path)],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["installed_without_cache"] is False
    # Stock: every call re-reads both archives.
    assert out["stock"]["a.zip"] >= 2 and out["stock"]["b.zip"] >= 2, out["stock"]
    assert out["installed"] is True
    assert out["gated"] == {}, "unchanged archives were re-read"
    assert out["second_install_same_function"] is True
    assert out["after_second_install"] == {}
    # A replaced archive (new inode) and one rewritten in place are read
    # again, the untouched one is not, and the new modules import.
    assert out["after_replace"].get("a.zip", 0) >= 1 and "b.zip" not in out["after_replace"]
    assert out["two"] == "two"
    assert out["after_rewrite"].get("a.zip", 0) >= 1 and "b.zip" not in out["after_rewrite"]
    assert out["three"] == "three"
    assert out["unchanged_again"] == {}
