"""The benchmark's own exact answers, computed with numpy.

Scores replay the package's exact float64 order: each float32 element
widens to float64, products are summed left to right (``cumsum``), the
order ``functions/vector.dot_product`` and the serving rerank both
document. So a correct result matches these scores bit for bit.

Which rows a template keeps comes from the generator's own metadata,
not from the payload codes the program wrote, so a wrong code fails
the filter check instead of hiding in both sides.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

import data


class Oracle:
    def __init__(self, layout_dir: str, dataset: data.Dataset):
        tbl = pq.read_table(layout_dir, columns=["vec_id", "embedding"])
        ids = tbl.column("vec_id").to_numpy()
        emb = tbl.column("embedding").combine_chunks()
        flat = emb.values.to_numpy(zero_copy_only=False)
        order = np.argsort(ids, kind="stable")
        self.ids = ids[order]
        self.mat = flat.reshape(len(ids), -1)[order]
        self.row_of = {int(k): i for i, k in enumerate(self.ids)}
        by_id = {r["vec_id"]: r for r in dataset.rows}
        self.allowed = {
            t: np.asarray(
                [i for i, k in enumerate(self.ids)
                 if data.matches(by_id[int(k)], t)],
                dtype=np.int64,
            )
            for t in data.TEMPLATE_ORDER
        }
        self.allowed_keys = {
            t: set(int(k) for k in self.ids[rows])
            for t, rows in self.allowed.items()
        }
        self._cache: dict = {}

    def qvec(self, vec_id: int) -> np.ndarray:
        return self.mat[self.row_of[int(vec_id)]]

    def scores(self, qid: int, template: str) -> dict[int, float]:
        """Exact score of every row the template keeps."""
        key = (int(qid), template)
        if key not in self._cache:
            rows = self.allowed[template]
            q = self.qvec(qid).astype(np.float64)
            m = self.mat[rows].astype(np.float64)
            s = np.cumsum(m * q[None, :], axis=1)[:, -1]
            self._cache[key] = dict(zip((int(k) for k in self.ids[rows]), s.tolist()))
        return self._cache[key]

    def topk(self, qid: int, template: str, k: int = 100) -> list[tuple[int, float]]:
        s = self.scores(qid, template)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
