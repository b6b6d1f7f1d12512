"""STR-packed R-tree over polygon bboxes — flat NumPy arrays, serializable.

The reference relies on PostGIS GiST indexes for spatial filtering; the
north_star requires "a broadcast-friendly packed R-tree per H3 cell for the
PIP stage". This is a Sort-Tile-Recursive bulk-loaded R-tree stored as flat
arrays (no pointers), so it serializes to bytes with ``tobytes()`` and
broadcasts cheaply to executors.

Layout: levels bottom-up; level 0 = leaf entries (item bboxes, item ids).
Each internal node covers a contiguous child range [child_lo, child_hi).
Query returns candidate item ids whose bbox intersects the query bbox;
exact PIP runs afterwards.
"""

from __future__ import annotations

import io

import numpy as np

NODE_CAP = 16


class PackedRTree:
    __slots__ = ("item_boxes", "item_ids", "level_boxes", "level_ranges")

    def __init__(self, boxes: np.ndarray, ids: np.ndarray):
        """boxes: (N,4) [xmin,ymin,xmax,ymax]; ids: (N,) int64."""
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        ids = np.asarray(ids, dtype=np.int64)
        n = len(boxes)
        if n:
            # STR: sort by center x, slice into vertical strips, sort each
            # strip by center y — good fill + locality for bulk loads.
            cx = (boxes[:, 0] + boxes[:, 2]) * 0.5
            cy = (boxes[:, 1] + boxes[:, 3]) * 0.5
            n_strips = max(1, int(np.ceil(np.sqrt(n / NODE_CAP))))
            strip_sz = int(np.ceil(n / n_strips))
            order = np.argsort(cx, kind="stable")
            final = np.empty(n, dtype=np.int64)
            for s in range(n_strips):
                strip = order[s * strip_sz : (s + 1) * strip_sz]
                final[s * strip_sz : s * strip_sz + len(strip)] = strip[
                    np.argsort(cy[strip], kind="stable")
                ]
            boxes = boxes[final]
            ids = ids[final]
        self.item_boxes = boxes
        self.item_ids = ids
        # build internal levels bottom-up
        self.level_boxes: list[np.ndarray] = []
        self.level_ranges: list[np.ndarray] = []
        cur = boxes
        while len(cur) > NODE_CAP:
            m = int(np.ceil(len(cur) / NODE_CAP))
            nb = np.empty((m, 4), dtype=np.float64)
            rg = np.empty((m, 2), dtype=np.int64)
            for i in range(m):
                lo, hi = i * NODE_CAP, min((i + 1) * NODE_CAP, len(cur))
                nb[i, 0] = cur[lo:hi, 0].min()
                nb[i, 1] = cur[lo:hi, 1].min()
                nb[i, 2] = cur[lo:hi, 2].max()
                nb[i, 3] = cur[lo:hi, 3].max()
                rg[i] = (lo, hi)
            self.level_boxes.append(nb)
            self.level_ranges.append(rg)
            cur = nb

    def query(self, xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
        """Item ids whose bbox intersects [xmin,xmax]x[ymin,ymax]."""
        if not len(self.item_boxes):
            return np.empty(0, dtype=np.int64)
        if not self.level_boxes:
            b = self.item_boxes
            hit = (b[:, 0] <= xmax) & (b[:, 2] >= xmin) & (b[:, 1] <= ymax) & (b[:, 3] >= ymin)
            return self.item_ids[hit]
        # descend levels top-down, keeping candidate child ranges
        top = len(self.level_boxes) - 1
        b = self.level_boxes[top]
        hit = (b[:, 0] <= xmax) & (b[:, 2] >= xmin) & (b[:, 1] <= ymax) & (b[:, 3] >= ymin)
        idx = np.nonzero(hit)[0]
        for lvl in range(top, -1, -1):
            ranges = self.level_ranges[lvl][idx]
            child_idx = np.concatenate(
                [np.arange(lo, hi) for lo, hi in ranges]
            ) if len(ranges) else np.empty(0, dtype=np.int64)
            b = self.level_boxes[lvl - 1] if lvl > 0 else self.item_boxes
            cb = b[child_idx]
            hit = (cb[:, 0] <= xmax) & (cb[:, 2] >= xmin) & (cb[:, 1] <= ymax) & (cb[:, 3] >= ymin)
            idx = child_idx[hit]
        return self.item_ids[idx]

    # ------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        bio = io.BytesIO()
        arrays = {"item_boxes": self.item_boxes, "item_ids": self.item_ids}
        for i, (b, r) in enumerate(zip(self.level_boxes, self.level_ranges)):
            arrays[f"lb{i}"] = b
            arrays[f"lr{i}"] = r
        np.savez(bio, n_levels=np.int64(len(self.level_boxes)), **arrays)
        return bio.getvalue()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "PackedRTree":
        data = np.load(io.BytesIO(buf))
        t = cls.__new__(cls)
        t.item_boxes = data["item_boxes"]
        t.item_ids = data["item_ids"]
        t.level_boxes = []
        t.level_ranges = []
        for i in range(int(data["n_levels"])):
            t.level_boxes.append(data[f"lb{i}"])
            t.level_ranges.append(data[f"lr{i}"])
        return t
