"""Kernel layer timed by direct calls, in this process, one frame at a time.

Replays the per-frame flow of the OCR stage (``extractor.frame_geometry``,
then ``kernels.recognize_crop_groups`` over groups of ``arrow_batch``
frames, then ``extractor.assemble_frame_lines``) with a timer around each
public call, so each kernel's cost per frame is known without tracing
inside the package.
"""

from __future__ import annotations

import time

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.extractor import assemble_frame_lines, detect_frame_geom

STEPS = ("decode", "orient", "detect", "crop", "cls", "recognize", "layout")


class _Laps:
    """Seconds spent per step; ``lap`` charges the time since the last
    ``start`` or ``lap`` to a step."""

    def __init__(self):
        self.spent = dict.fromkeys(STEPS, 0.0)
        self.t = time.perf_counter()

    def start(self) -> None:
        self.t = time.perf_counter()

    def lap(self, step: str) -> None:
        now = time.perf_counter()
        self.spent[step] += now - self.t
        self.t = now


def probe(frames: list[bytes], arrow_batch: int, cfg: ExtractConfig | None = None) -> dict:
    """Per-frame milliseconds of each step over ``frames`` (image bytes),
    plus boxes per frame and crops per recognition call."""
    cfg = cfg or ExtractConfig()
    if cfg.prep.unwarp or cfg.det.rotated:
        raise ValueError("the probe replays the default (unwarp off, AABB) flow")
    weights = K.resolve_weights(cfg.rec)
    rec_kw = dict(
        h=cfg.rec.h, mw=cfg.rec.mw, min_w=cfg.rec.min_w,
        decode=cfg.rec.decode, beam_width=cfg.rec.beam_width,
    )
    laps = _Laps()
    n_boxes = 0
    calls, n_crops = 0, 0
    for start in range(0, len(frames), arrow_batch):
        groups, geoms = [], []
        for raw in frames[start:start + arrow_batch]:
            laps.start()
            img = K.decode_image(raw)
            laps.lap("decode")
            if cfg.prep.ori:
                img, _ = K.correct_orientation(img, oth=cfg.prep.oth)
            laps.lap("orient")
            boxes, _scores, _quads = detect_frame_geom(img, cfg)
            laps.lap("detect")
            crops = [K.crop_box(img, b) for b in boxes]
            laps.lap("crop")
            if cfg.cls.en:
                crops = [K.correct_textline(c, th=cfg.cls.th) for c in crops]
            laps.lap("cls")
            n_boxes += len(boxes)
            groups.append(crops)
            geoms.append((boxes, img.shape[0]))
        laps.start()
        texts = K.recognize_crop_groups(groups, weights, **rec_kw)
        laps.lap("recognize")
        calls += 1
        n_crops += sum(len(g) for g in groups)
        for (boxes, oh), ts in zip(geoms, texts):
            if len(boxes):
                assemble_frame_lines(boxes, ts, oh, cfg)
        laps.lap("layout")
    spent = laps.spent
    n = max(len(frames), 1)
    out = {f"{s}.ms_per_frame": 1e3 * spent[s] / n for s in STEPS}
    out["kernels.ms_per_frame"] = 1e3 * sum(spent.values()) / n
    out["detect.boxes_per_frame"] = n_boxes / n
    out["recognize.crops_per_call"] = n_crops / max(calls, 1)
    out["frames"] = len(frames)
    return out
