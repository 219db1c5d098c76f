"""A provider that counts its own work through Spark accumulators.

Kept in its own module with no benchmark imports: the benchmark ships this
one file to the Python workers (``SparkContext.addPyFile``) so the pickled
provider can be rebuilt there.
"""

from __future__ import annotations

import time

from flink_rag_spark.functions.providers import LocalDeterministicProvider

COUNTERS = ("embed_calls", "embed_rows", "embed_busy_us",
            "chat_calls", "chat_rows", "chat_busy_us")


class CountingProvider(LocalDeterministicProvider):
    """The engine's default deterministic provider, plus call, row and busy
    time counters. Outputs are identical to the parent's."""

    def __init__(self, sc, dims: int, seed: int):
        super().__init__(dims, seed)
        self.acc = {k: sc.accumulator(0) for k in COUNTERS}

    def embed_batch(self, texts):
        t = time.perf_counter()
        out = super().embed_batch(texts)
        self.acc["embed_busy_us"].add(int((time.perf_counter() - t) * 1e6))
        self.acc["embed_calls"].add(1)
        self.acc["embed_rows"].add(len(texts))
        return out

    def chat_batch(self, prompts):
        t = time.perf_counter()
        out = super().chat_batch(prompts)
        self.acc["chat_busy_us"].add(int((time.perf_counter() - t) * 1e6))
        self.acc["chat_calls"].add(1)
        self.acc["chat_rows"].add(len(prompts))
        return out

    def counts(self) -> dict[str, int]:
        """Driver-side totals (read after the jobs have finished)."""
        return {k: a.value for k, a in self.acc.items()}
