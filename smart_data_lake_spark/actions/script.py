"""CustomScriptAction — run a shell command as a DAG node.

Reference: `workflow/action/CustomScriptAction.scala` with
`workflow/action/script/CmdScript.scala:47` (and DockerRunScript.scala:45 for
containerised scripts — same contract, different argv).
"""

from __future__ import annotations

import subprocess
from typing import Any

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import Action
from smart_data_lake_spark.subfeed import ScriptSubFeed


@register_action_type
class CustomScriptAction(Action):
    def __init__(
        self,
        id: str,
        input_ids: list[str] | None = None,
        output_ids: list[str] | None = None,
        cmd: list[str] | str = "",
        env: dict[str, str] | None = None,
        shell: bool = True,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, input_ids=input_ids, output_ids=output_ids, **kwargs)
        self.cmd = cmd
        self.env = env or {}
        # shell=False tokenizes a string cmd with CmdScript.splitCmdParameters
        # semantics (quoted spans stay one argv element) instead of handing it
        # to a shell — the reference's CmdScript execution mode
        self.shell = shell

    def init(self, spark, subfeeds):
        return [ScriptSubFeed(data_object_id=o) for o in self.output_ids] or [
            ScriptSubFeed(data_object_id=self.id)
        ]

    def exec(self, spark, subfeeds):
        import os

        params = {}
        for sf in subfeeds:
            if isinstance(sf, ScriptSubFeed):
                params.update(sf.parameters)
        env = {**os.environ, **self.env, **{f"SDL_{k.upper()}": str(v) for k, v in params.items()}}
        if isinstance(self.cmd, str) and not self.shell:
            from smart_data_lake_spark.actions.helper import split_cmd_parameters

            argv: list[str] | str = split_cmd_parameters(self.cmd)
            use_shell = False
        else:
            argv = self.cmd
            use_shell = isinstance(self.cmd, str)
        proc = subprocess.run(
            argv, shell=use_shell, env=env, capture_output=True, text=True, check=False
        )
        if proc.returncode != 0:
            raise RuntimeError(f"({self.id}) script failed rc={proc.returncode}: {proc.stderr[-2000:]}")
        self.runtime_metrics[self.id] = {"returncode": proc.returncode}
        out_params = {"stdout": proc.stdout.strip()[-4000:]}
        outs = self.output_ids or [self.id]
        return [ScriptSubFeed(data_object_id=o, parameters=out_params) for o in outs]
