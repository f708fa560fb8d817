"""Defaults shared by the workloads (see the package docstring)."""


class Workload:
    name = ""

    def reference_check(self) -> bool:
        """No independent reference beyond the per-op ``check``."""
        return True

    def summary(self) -> dict:
        return {}
