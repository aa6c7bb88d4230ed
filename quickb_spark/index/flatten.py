"""Empty on purpose: the chunk-tokenize kernel that lived here is gone.

Pre-chunked `chunks=` input now runs the one build engine
(index/p1_direct.py). This module stays only because the benchmark's
worker warm-up (perfbench/harness.py `_import_engine`) imports it, and the
benchmark harness changes only in a declared benchmark change; that change
drops the import and this file with it.
"""
