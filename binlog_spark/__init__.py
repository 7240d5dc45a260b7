"""PySpark-native CDC / incremental-ingest engine (see README.md).

Public surface, by half of the pipeline:

* source → change rows: ``sources.dump_protocol.DumpClient`` (live
  dump-protocol source), ``sources.packets`` (captured-blob framing),
  ``pipeline.read_frames`` / ``read_frames_from`` (batch frame scans,
  resume cursor), ``pipeline.decode_to_changes`` (vectorized decode +
  transaction assembly; pluggable schema provider via
  ``operators.decode.as_table_mapper``);
* change rows → lake: ``operators.merge.LakeTable`` (bucketed
  copy-on-write, idempotent MERGE, snapshot log/time travel),
  ``pipeline.replay_batch`` / ``replay_batch_multi`` (batch apply,
  multi-table fan-out; ``operators.lww.fold_batches`` is the one per-key
  fold kernel, run inside the MERGE by ``LakeTable.apply_changes``),
  ``streaming.pipeline.run_stream`` (checkpointed exactly-once
  streaming from frame parquet or a raw-binlog archive, to one lake or
  several) / ``run_stream_ordered`` (name-ordered, mtime-immune),
  ``operators.rollup.RollupTable`` (incremental continuous aggregate),
  ``streaming.stateful.running_lww`` (keyed state-store feed),
  ``streaming.windows`` (watermarked windows, ``activity_sessions`` on
  the native ``session_window``);
* training-data operators: ``operators.dedup`` / ``similarity`` /
  ``textstats`` / ``multimodal``;
* deterministic test world: ``genlog.CdcWorldGenerator``.

Imports stay lazy (submodules) so ``import binlog_spark`` is cheap and
needs no SparkSession. The one eager import, ``worker_zipimport``, stops
a PySpark worker from re-reading pyspark.zip before each task.
"""

from .worker_zipimport import install as _install_zipimport_guard

_install_zipimport_guard()
