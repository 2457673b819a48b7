"""CustomFileAction — per-file custom transformation.

Reference: `workflow/action/CustomFileAction.scala:45-134`: each input file is
streamed through a user transform function into the corresponding output
file; `files_per_partition` groups files into Spark tasks so the per-file
Python work is distributed across executors (the reference parallelizes the
file list the same way, :100-110).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import Action
from smart_data_lake_spark.subfeed import FileSubFeed


@register_action_type
class CustomFileAction(Action):
    """transform_fn(src_path, dst_path) -> None, applied file-by-file.

    Distribution: the file list is parallelized into len(files) /
    files_per_partition Spark tasks; each task runs the transform for its
    files on an executor — I/O-bound per-file work (unzip, re-encode,
    validate) scales with the cluster, not the driver.
    """

    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        transform_fn: Callable[[str, str], None],
        files_per_partition: int = 10,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, input_ids=[input_id], output_ids=[output_id], **kwargs)
        self.transform_fn = transform_fn
        self.files_per_partition = max(1, files_per_partition)

    def _list_input_files(self) -> list[str]:
        src = getattr(self._do(self.main_input_id), "path", None)
        if src is None or not os.path.isdir(src):
            return []
        return sorted(
            os.path.join(root, f)
            for root, _, files in os.walk(src)
            for f in files
            if not f.startswith(("_", "."))
        )

    def init(self, spark, subfeeds):
        return [FileSubFeed(data_object_id=self.main_output_id, file_refs=self._list_input_files())]

    def exec(self, spark, subfeeds):
        src_root = getattr(self._do(self.main_input_id), "path")
        dst_root = getattr(self._do(self.main_output_id), "path")
        os.makedirs(dst_root, exist_ok=True)
        files = self._list_input_files()
        pairs = [
            (p, os.path.join(dst_root, os.path.relpath(p, src_root))) for p in files
        ]
        transform_fn = self.transform_fn
        n_tasks = max(1, len(pairs) // self.files_per_partition)

        def process(pair: tuple[str, str]) -> str:
            src, dst = pair
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            transform_fn(src, dst)
            return dst

        # distribute the per-file work across executors (local mode: threads)
        written = (
            spark.sparkContext.parallelize(pairs, n_tasks).map(process).collect()
            if pairs
            else []
        )
        self.runtime_metrics[self.main_output_id] = {"files_transformed": len(written)}
        self.check_metrics_fail_condition()
        return [
            FileSubFeed(
                data_object_id=self.main_output_id,
                file_refs=list(written),
                metrics=self.runtime_metrics[self.main_output_id],
            )
        ]
