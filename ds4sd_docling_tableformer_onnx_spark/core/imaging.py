"""Page/crop/tensor preprocessing (P1-P3) in pure numpy.

Re-implements the reference's image preprocessing as pinned by its own
golden fixtures (the reference exports these stages with a pure-numpy
bilinear kernel — ``scripts/export_tableformer_table_crops.py:52-98``
and ``scripts/export_tableformer_image_tensors.py:59-160`` — which the
.NET parity tests replay; that kernel, not cv2's, is the behavioral
contract):

- P1 page resize to height 1024 keeping aspect ratio
  (tf_predictor.py:436-464,477-478),
- P2 table-bbox scale + round + clip + crop (tf_predictor.py:480-490),
- P3 tensorize: bilinear resize to 448x448, /255, per-channel
  (v - mean)/std, (c, w, h) transpose, batch of 1
  (tf_predictor.py:995-1022).

Verified bit-exact against ``tableformer_table_crops_reference.json``
(crop_image_sha256) and ``tableformer_image_tensors_reference.json``
(tensor_sha256) in tests/test_imaging.py.
"""

from __future__ import annotations

import numpy as np


def resize_bilinear(image: np.ndarray, target_width: int, target_height: int) -> np.ndarray:
    """Bilinear resize with floor source mapping ``x_src = x_dst / scale``
    and edge clamping; float64 math, float64 result (callers round/cast)."""
    image = image.astype(np.float64, copy=False)
    src_h, src_w = image.shape[:2]
    scale_x = target_width / float(src_w)
    scale_y = target_height / float(src_h)

    x_coords = np.arange(target_width, dtype=np.float64) / scale_x
    y_coords = np.arange(target_height, dtype=np.float64) / scale_y
    x0 = np.floor(x_coords).astype(int)
    y0 = np.floor(y_coords).astype(int)
    x_lerp = (x_coords - x0)[None, :, None]
    y_lerp = (y_coords - y0)[:, None, None]

    x0 = np.clip(x0, 0, src_w - 1)
    y0 = np.clip(y0, 0, src_h - 1)
    x1 = np.clip(x0 + 1, 0, src_w - 1)
    y1 = np.clip(y0 + 1, 0, src_h - 1)
    x_lerp = np.where((x0 == x1)[None, :, None], 0.0, x_lerp)
    y_lerp = np.where((y0 == y1)[:, None, None], 0.0, y_lerp)

    row0 = image[y0]
    row1 = image[y1]
    p00, p10 = row0[:, x0], row0[:, x1]
    p01, p11 = row1[:, x0], row1[:, x1]

    top = p00 + (p10 - p00) * x_lerp
    bottom = p01 + (p11 - p01) * x_lerp
    return top + (bottom - top) * y_lerp


def resize_page(img: np.ndarray, height: int = 1024):
    """P1: resize to the target height keeping aspect ratio; uint8 with
    round-half-even; returns (resized, scale_factor)."""
    src_h, src_w = img.shape[:2]
    if src_h == height:
        return img.copy(), 1.0
    scale = height / float(src_h)
    dst_w = int(src_w * scale)
    value = resize_bilinear(img, dst_w, height)
    return np.clip(np.round(value), 0, 255).astype(np.uint8), scale


def scale_and_round_bbox(bbox, scale_factor: float, width: int, height: int):
    """P2 bbox arithmetic: scale, python round() (banker's), clip to the
    resized page, ordered corners."""
    scaled = [float(coord * scale_factor) for coord in bbox]
    left, top, right, bottom = (int(round(c)) for c in scaled)
    left = max(0, min(left, width))
    top = max(0, min(top, height))
    right = max(left, min(right, width))
    bottom = max(top, min(bottom, height))
    return scaled, (left, top, right, bottom)


def tensorize(crop: np.ndarray, mean, std, resized_size: int = 448) -> np.ndarray:
    """P3: bilinear resize to NxN (float path), clip, /255, per-channel
    normalize, (c, w, h) transpose, batch of 1, float32."""
    if crop.shape[0] == resized_size and crop.shape[1] == resized_size:
        resized = crop.astype(np.float32, copy=True)
    else:
        resized = resize_bilinear(crop, resized_size, resized_size).astype(np.float32)
    resized = np.clip(resized, 0.0, 255.0)

    normalized = np.empty_like(resized, dtype=np.float32)
    for channel in range(resized.shape[2]):
        values = resized[:, :, channel] / 255.0
        normalized[:, :, channel] = (values - mean[channel]) / std[channel]

    transposed = normalized.transpose(2, 1, 0)  # (channels, width, height)
    return transposed[np.newaxis, ...].astype(np.float32, copy=False)


def resize_page_float(img: np.ndarray, height: int = 1024):
    """P1 variant used by the tensor chain: the resized page stays in
    float32 — no uint8 quantization between page resize and tensorize
    (scripts/export_tableformer_image_tensors.py:59-105)."""
    src_h, src_w = img.shape[:2]
    if src_h == height:
        return img.astype(np.float32, copy=True), 1.0
    scale = height / float(src_h)
    dst_w = int(src_w * scale)
    return resize_bilinear(img, dst_w, height).astype(np.float32), scale


def prepare_table_tensor(page_image: np.ndarray, table_bbox, mean, std):
    """P1+P2+P3 end to end: page image + table bbox -> model input tensor
    and the crop metadata (scale factor, rounded bbox).

    parity: the uint8 ``crop`` follows the crop chain (rounded page);
    the ``tensor`` follows the tensor chain (float page, no rounding) —
    the reference's two export scripts differ exactly this way.
    """
    resized_u8, scale = resize_page(page_image, 1024)
    scaled, rounded = scale_and_round_bbox(
        table_bbox, scale, resized_u8.shape[1], resized_u8.shape[0]
    )
    left, top, right, bottom = rounded
    crop = resized_u8[top:bottom, left:right]

    resized_f32, _ = resize_page_float(page_image, 1024)
    crop_f32 = resized_f32[top:bottom, left:right]
    tensor = tensorize(crop_f32, mean, std)
    return {
        "tensor": tensor,
        "crop": crop,
        "scale_factor": scale,
        "scaled_bbox": scaled,
        "rounded_bbox": list(rounded),
    }
