"""Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the
memory-side ANN scale path: each vector is split into ``m`` subvectors,
each subvector snapped to one of ``k`` per-subspace centroids, so a
64-dim float vector compresses to m (here 8) small codes, and query
distance evaluation becomes m table lookups (ADC — asymmetric distance
computation) instead of a 64-term dot product. At 100 TB of embeddings
this is the difference between an index that fits executor memory and
one that does not; compose with ``assign_buckets`` (IVF) for the
classic IVF-PQ layout.

Oracle-boundary split, same contract as the MLlib anomaly family:

- ``fit_pq_codebooks`` — per-subspace KMeans (MLlib, seeded). Iterative,
  so pytest-proven (reconstruction-error dominance over hash-derived
  codebooks; see tests/test_pq.py).
- ``pq_assign`` / ``pq_adc_topk`` — pure relational arithmetic against
  LITERAL codebooks (``PQ_CODEBOOKS`` ships the seeded sf0.01 fit, the
  ``KMEANS_SCORING_CENTERS`` precedent): distances are fixed-order
  fold sums rounded to 6 decimals before every argmin/rank, so DuckDB
  replays them bit-for-bit.

Scale shape: assignment is map-only against a BROADCAST codebook dim
(one scan, zero data shuffles — codebooks ride as data, not as literal
expression trees, which kept every plan constant-sized; see
``_codebook_dim``); ADC top-k joins the m-long code relation to a
|queries|x m x k distance-table dim (broadcast), aggregates per
(query, vector), and ranks inside each query partition — no global
sort, no all-pairs float math at query time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


# Seeded sf0.01 fit of fit_pq_codebooks(seed=7, maxIter=20) over the
# driver embeddings, rounded to 4 decimals - the literal codebooks the
# oracle-checked scoring path uses (KMEANS_SCORING_CENTERS precedent).
PQ_CODEBOOKS = [
    [
        [-0.0663, -0.0075, 0.1012, 0.0676, 0.0013, -0.0991, 0.1227, 0.0709],
        [-0.0369, 0.1114, 0.0316, 0.1135, 0.1168, 0.0481, -0.1409, -0.0908],
        [0.1476, 0.056, 0.0819, -0.017, -0.087, -0.0455, 0.0737, 0.0247],
        [0.1038, 0.0345, -0.0409, -0.0924, 0.0971, -0.0481, -0.0836, 0.1196],
        [-0.0445, -0.0328, 0.0367, -0.1411, 0.0895, 0.0183, 0.058, -0.1319],
        [0.1022, -0.13, -0.0906, -0.0825, -0.0637, -0.1043, 0.0513, 0.0563],
        [-0.1078, -0.0187, -0.1749, -0.023, 0.0701, 0.0544, 0.1122, 0.0269],
        [0.1386, -0.0954, -0.0122, 0.0665, 0.0187, 0.1126, -0.0884, -0.0846],
        [-0.052, 0.149, 0.0564, -0.0557, -0.0664, 0.1481, -0.0361, -0.0117],
        [-0.0281, -0.0398, -0.0033, 0.0532, -0.0527, -0.113, 0.0063, -0.1804],
        [-0.0532, -0.1797, 0.0208, -0.0183, 0.003, 0.0606, -0.115, 0.0948],
        [-0.108, -0.0244, 0.024, -0.0039, 0.1232, -0.1155, -0.1332, 0.0177],
        [-0.0567, -0.05, 0.1438, -0.0751, -0.1862, 0.0722, -0.0143, 0.0004],
        [-0.0092, 0.0505, -0.0953, 0.0097, -0.18, 0.0132, -0.1145, -0.0241],
        [0.0528, 0.0621, -0.0935, 0.1305, -0.0022, 0.0587, 0.0115, 0.1421],
        [0.0098, -0.0182, 0.1823, -0.0361, 0.1268, 0.1533, -0.0064, 0.0986],
    ],
    [
        [0.075, -0.0876, 0.0389, -0.1207, 0.024, -0.0994, -0.0957, 0.0948],
        [0.0072, -0.1704, -0.0244, -0.0865, -0.0758, 0.1777, 0.0518, -0.1296],
        [-0.091, 0.0364, -0.0049, -0.087, -0.1563, 0.0647, -0.0616, 0.0357],
        [-0.084, 0.1397, -0.0289, 0.0338, 0.1112, -0.1023, 0.0165, -0.0446],
        [0.098, -0.0124, -0.0986, 0.0142, 0.0466, -0.1317, 0.1373, -0.0074],
        [-0.0264, 0.124, -0.0644, -0.1586, 0.0613, 0.0697, -0.0043, 0.059],
        [0.1609, 0.0782, 0.0528, 0.0356, -0.1362, -0.0151, 0.0571, -0.0687],
        [-0.0204, 0.0564, 0.0425, 0.2155, -0.0947, -0.0343, -0.1178, 0.033],
        [0.058, 0.0026, -0.1511, 0.0623, 0.0225, 0.0996, -0.0339, 0.1169],
        [-0.156, -0.164, -0.0417, -0.0127, -0.0183, 0.025, -0.0039, 0.1502],
        [-0.0341, -0.06, 0.0478, -0.096, -0.0707, -0.1402, -0.012, -0.1157],
        [-0.0547, -0.0893, -0.0263, 0.0277, -0.0254, 0.0173, -0.1066, -0.1745],
        [-0.0474, 0.1887, 0.0728, 0.0626, -0.0086, 0.15, 0.0372, -0.0367],
        [-0.0427, 0.0, 0.1316, 0.024, 0.1275, 0.0631, -0.1489, 0.0907],
        [0.0626, -0.0155, 0.1455, -0.0535, 0.0594, 0.0324, 0.1132, 0.0808],
        [-0.0491, -0.1281, 0.0376, 0.1207, 0.0373, 0.0428, 0.116, -0.0111],
    ],
    [
        [-0.1404, -0.1769, -0.049, -0.0409, 0.0223, 0.0654, -0.0725, 0.006],
        [0.1515, -0.0133, 0.0339, -0.0362, -0.1008, 0.0213, 0.0601, -0.118],
        [0.1085, -0.0342, 0.0609, 0.0699, 0.0788, 0.0112, -0.1711, 0.0421],
        [-0.0066, -0.1069, -0.1338, -0.0629, -0.0256, 0.0538, 0.0116, -0.1361],
        [0.0223, 0.0942, 0.0076, 0.166, 0.019, -0.0729, 0.0712, -0.1198],
        [-0.0367, -0.0789, 0.0198, 0.0685, 0.0954, -0.0358, 0.0969, 0.0568],
        [-0.0585, 0.1868, -0.0076, -0.1102, -0.0081, -0.0787, 0.0796, -0.0917],
        [0.0576, 0.0285, -0.0761, 0.1225, 0.0086, 0.1286, 0.0685, 0.081],
        [-0.0759, 0.0627, -0.1116, 0.052, -0.0793, -0.0356, -0.0649, -0.0375],
        [-0.0912, 0.0679, 0.1603, 0.0304, -0.0829, 0.0955, -0.0251, -0.0197],
        [-0.0946, -0.0314, 0.1097, 0.03, -0.0243, -0.1596, -0.0394, 0.0746],
        [-0.1406, -0.0941, 0.0164, -0.0596, 0.1446, 0.1378, 0.2107, -0.1017],
        [0.0233, 0.1035, 0.0604, -0.0858, 0.1331, 0.0516, -0.0087, -0.1286],
        [0.0212, 0.0621, 0.0498, -0.1005, -0.0822, 0.0857, 0.0273, 0.1813],
        [0.0926, -0.1341, -0.1027, 0.0184, -0.0443, -0.0942, -0.0657, 0.0242],
        [0.1639, 0.0222, -0.0441, -0.1338, 0.0331, -0.0628, 0.059, 0.07],
    ],
    [
        [-0.1029, -0.0638, 0.0099, -0.1509, 0.0202, -0.0384, 0.0451, -0.0268],
        [0.0262, -0.1208, -0.1072, 0.0066, -0.0598, 0.0299, 0.1196, 0.0419],
        [0.0392, 0.0174, 0.1446, 0.0494, 0.0683, 0.0594, -0.0864, 0.0901],
        [0.0832, 0.086, -0.0201, 0.0685, -0.1793, -0.0181, 0.1086, -0.0428],
        [-0.0333, -0.0514, 0.2408, -0.003, 0.0355, 0.0722, -0.0174, -0.1478],
        [0.127, 0.1733, 0.0522, -0.0509, -0.0291, 0.0406, -0.0142, 0.1421],
        [-0.1733, 0.0507, 0.1169, 0.0481, -0.151, 0.1297, 0.0051, -0.0592],
        [0.127, 0.0676, -0.1094, 0.1528, 0.0086, 0.0287, -0.1112, 0.0089],
        [0.1256, 0.0752, -0.0047, -0.0388, 0.0804, 0.105, 0.0567, -0.1379],
        [-0.0651, -0.0517, -0.1206, 0.0147, 0.0258, -0.0636, -0.0608, -0.1667],
        [-0.0353, -0.0903, -0.0229, 0.1953, 0.0169, 0.0334, 0.0281, -0.0665],
        [0.0456, -0.0452, 0.0647, 0.0711, -0.0345, -0.1924, -0.0577, 0.1185],
        [-0.0426, 0.1836, 0.0056, -0.0089, 0.0123, -0.1661, 0.0869, -0.0333],
        [-0.118, 0.0918, -0.1152, 0.0111, 0.059, 0.119, -0.0358, 0.0919],
        [-0.0146, 0.007, -0.0412, -0.0537, -0.126, -0.0158, -0.1627, 0.0132],
        [-0.0022, -0.073, 0.0312, 0.0159, 0.1238, -0.0266, 0.1157, 0.0157],
    ],
    [
        [0.0038, -0.0106, 0.0755, 0.024, -0.2108, -0.0879, 0.1151, 0.015],
        [0.0498, 0.118, 0.1004, -0.0486, -0.05, 0.1455, 0.064, 0.013],
        [0.0929, -0.0265, 0.0626, 0.1394, -0.0205, 0.0155, 0.0199, -0.1519],
        [0.0469, -0.0713, 0.0725, 0.0014, 0.0202, -0.0154, -0.0946, 0.1789],
        [-0.1942, -0.0625, 0.0596, 0.0553, 0.034, 0.0427, 0.0325, 0.0809],
        [0.1238, 0.1749, 0.0099, 0.0109, 0.0637, -0.1036, -0.1078, -0.0061],
        [-0.0246, -0.1042, -0.0826, -0.0994, 0.0257, -0.1622, -0.062, 0.0419],
        [-0.0189, -0.0491, 0.2103, -0.0406, 0.0682, -0.0573, -0.038, -0.045],
        [-0.0113, 0.0599, -0.1116, 0.0428, -0.1466, 0.0878, -0.0117, 0.0989],
        [0.0879, 0.0025, -0.0196, 0.0801, 0.112, 0.0249, 0.1127, 0.0757],
        [0.1284, -0.0767, -0.0042, -0.1583, -0.0226, -0.0226, 0.1284, -0.0497],
        [0.0437, -0.1525, -0.1368, 0.0357, 0.048, 0.0928, -0.046, 0.0025],
        [0.013, 0.0496, 0.0025, 0.0125, 0.037, 0.1198, -0.1922, -0.0671],
        [-0.0652, 0.0294, -0.0665, 0.1694, 0.0216, -0.1242, 0.0574, -0.0321],
        [-0.0789, 0.0335, -0.0261, -0.0618, -0.008, -0.0086, 0.021, -0.1666],
        [-0.167, -0.0323, -0.0208, -0.1279, -0.0987, 0.0807, -0.1001, -0.0397],
    ],
    [
        [0.2212, -0.0119, -0.0389, -0.1199, 0.0566, 0.0005, 0.0272, 0.074],
        [0.0767, 0.0457, 0.1961, -0.0461, -0.0391, -0.0193, 0.059, -0.1279],
        [-0.0012, -0.0701, -0.105, -0.0287, 0.1289, 0.1124, -0.0305, -0.0056],
        [-0.0464, 0.0069, -0.0035, 0.052, -0.0498, 0.1385, 0.0196, -0.1596],
        [0.078, -0.1877, -0.0084, -0.0913, -0.0693, -0.0408, 0.0523, -0.002],
        [0.0072, 0.0915, -0.1369, 0.0628, -0.1447, 0.0216, 0.0745, 0.0204],
        [-0.0494, 0.0281, 0.0258, 0.0238, -0.0629, -0.1448, 0.0026, 0.1882],
        [0.0849, -0.0538, 0.0837, 0.1504, 0.0177, 0.0936, -0.0535, 0.0599],
        [-0.0536, 0.0089, -0.0676, -0.2138, -0.0333, -0.0403, -0.1031, 0.0053],
        [-0.0733, -0.1046, -0.0335, 0.0117, -0.0252, -0.0116, -0.1872, 0.1415],
        [-0.0559, 0.158, 0.0039, -0.0631, 0.1005, 0.0096, 0.0515, 0.1309],
        [0.0504, -0.0771, 0.1012, 0.0241, -0.1841, 0.0609, -0.1258, -0.0239],
        [-0.1307, -0.0957, 0.0535, 0.0514, 0.0197, 0.0672, 0.0448, 0.0713],
        [-0.1124, -0.0526, -0.0855, -0.0117, -0.0461, -0.1549, 0.0264, -0.0881],
        [0.0181, 0.1293, -0.0177, 0.0012, 0.0211, -0.0749, -0.1207, -0.0296],
        [0.0456, -0.0217, -0.0219, 0.1379, 0.0775, -0.049, 0.121, -0.0433],
    ],
    [
        [-0.0574, 0.1018, 0.0923, 0.0513, 0.1031, 0.0895, -0.1453, 0.0389],
        [-0.1851, -0.0765, 0.1447, 0.0183, -0.0532, -0.0415, -0.0031, 0.08],
        [-0.1052, 0.0146, -0.0159, 0.0783, -0.0408, 0.0924, -0.0804, -0.1858],
        [-0.1182, -0.1034, -0.0906, 0.0414, -0.0571, 0.1032, -0.0155, 0.1134],
        [0.1174, -0.1706, 0.1013, -0.0266, -0.0226, 0.0531, -0.0321, 0.0433],
        [-0.0595, -0.1205, -0.0453, -0.0818, 0.0395, -0.0646, 0.0442, -0.1357],
        [-0.0886, 0.02, -0.0337, 0.1395, 0.0821, -0.0936, 0.0618, -0.0004],
        [-0.0389, -0.0107, 0.0827, 0.0307, 0.0533, 0.153, 0.0866, -0.0245],
        [0.0639, 0.0526, -0.0996, -0.1607, -0.0227, 0.0522, 0.1303, -0.0234],
        [-0.0215, -0.0194, -0.0018, 0.063, -0.1589, 0.0039, 0.1792, -0.0116],
        [0.0254, -0.0448, -0.0728, 0.0439, -0.0556, -0.2005, -0.103, 0.0207],
        [0.1507, 0.0102, -0.0943, 0.054, 0.0068, 0.0285, -0.0158, 0.0979],
        [0.0474, 0.0409, 0.1197, -0.0055, 0.1172, -0.0792, 0.1247, 0.1061],
        [0.0771, 0.0986, 0.1024, -0.0665, 0.0034, -0.038, -0.0834, -0.0955],
        [-0.054, -0.0384, -0.0463, -0.0804, 0.1462, -0.0347, -0.0609, 0.0326],
        [-0.0266, 0.0148, -0.0017, -0.0518, -0.2292, -0.0085, -0.0438, -0.093],
    ],
    [
        [-0.0182, -0.0067, 0.0519, -0.0606, -0.0781, -0.1085, 0.1272, -0.1355],
        [-0.0113, 0.1904, -0.2284, -0.0968, -0.0255, -0.0464, -0.0196, -0.0043],
        [-0.1289, 0.0867, 0.0733, -0.0154, 0.0076, -0.0783, 0.1432, 0.0789],
        [-0.014, 0.0612, -0.063, 0.0362, 0.1115, -0.024, -0.081, 0.1524],
        [0.0443, -0.0481, -0.1502, -0.0731, 0.0492, -0.1831, -0.0184, -0.0721],
        [0.1241, 0.101, 0.1421, 0.0104, 0.1334, 0.0014, -0.0811, -0.0472],
        [0.1032, -0.0174, -0.0142, 0.0061, 0.0524, 0.1836, 0.0689, -0.0508],
        [0.0142, -0.0457, 0.1056, 0.1343, -0.1011, 0.0175, -0.0331, -0.0942],
        [-0.0436, -0.0308, -0.1393, 0.1343, 0.0286, 0.0022, 0.0893, -0.063],
        [0.0936, 0.0777, -0.0184, 0.1087, -0.1204, -0.1006, -0.0064, 0.0574],
        [-0.0744, 0.0513, -0.0079, 0.0438, -0.0305, 0.0995, -0.1336, -0.0902],
        [0.0355, -0.1999, -0.0472, -0.0905, 0.0693, 0.0064, -0.0208, 0.0412],
        [0.0201, -0.0939, 0.0395, 0.0308, -0.0244, 0.0959, 0.1066, 0.1243],
        [0.0533, 0.0023, 0.047, -0.0896, -0.1232, 0.0501, -0.0916, 0.0163],
        [-0.0311, -0.0185, -0.0917, -0.1699, -0.0331, 0.0657, 0.0536, 0.0472],
        [-0.0879, -0.0572, 0.0849, -0.0886, 0.1079, 0.0208, -0.0409, -0.1198],
    ],
]

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_DIM = 64  # embedding dim (TESTDATA.md)


# fit_pq_codebooks(hash_embed(documents @ sf0.01, dim=64), seed=7,
# maxIter=20) - the literal codebooks behind the raw-text retrieval path
# (text_ivfpq): the PQ quantizer for HASH-EMBEDDED vectors, whose
# distribution (sparse signed counts, unit norm) differs from the driver
# embeddings PQ_CODEBOOKS was fit on. Regenerate with
# tools/train_text_pq.py. Same broadcast-dim shipping rule as
# PQ_CODEBOOKS (constants as data, never literal expression trees).
TEXT_PQ_CODEBOOKS = [
    [
        [-0.035223, 0.0, 0.0, 0.0, 0.180536, 0.0, 0.0, 0.083724],
        [-0.167744, 0.0, 0.0, 0.0, 0.241597, 0.0, 0.0, 0.045707],
        [-0.006856, 0.0, 0.0, 0.0, 0.021058, 0.0, 0.0, 0.021862],
        [-0.066802, 0.0, 0.0, 0.0, 0.053452, 0.0, 0.0, 0.632742],
        [-0.115986, 0.0, 0.0, 0.0, 0.12623, 0.0, 0.0, 0.141376],
        [-0.022324, 0.0, 0.0, 0.0, 0.230093, 0.0, 0.0, 0.27883],
        [-0.03417, 0.0, 0.0, 0.0, 0.030102, 0.0, 0.0, 0.238314],
        [-0.062971, 0.0, 0.0, 0.0, 0.387167, 0.0, 0.0, 0.069429],
        [-0.282771, 0.0, 0.0, 0.0, 0.088772, 0.0, 0.0, 0.311769],
        [-0.199493, 0.0, 0.0, 0.0, 0.046718, 0.0, 0.0, 0.176919],
        [-0.302201, 0.0, 0.0, 0.0, 0.348928, 0.0, 0.0, 0.155367],
        [-0.174156, 0.0, 0.0, 0.0, 0.005552, 0.0, 0.0, 0.014749],
        [-0.165542, 0.0, 0.0, 0.0, 0.21654, 0.0, 0.0, 0.219511],
        [-0.356208, 0.0, 0.0, 0.0, 0.015205, 0.0, 0.0, 0.147106],
        [-0.295293, 0.0, 0.0, 0.0, 0.139043, 0.0, 0.0, 0.071438],
        [-0.144925, 0.0, 0.0, 0.0, 0.119945, 0.0, 0.0, 0.021627],
    ],
    [
        [0.0, 0.033864, -0.099887, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.233345, -0.129311, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.108896, -0.010108, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.019584, -0.405204, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.384038, -0.110773, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.012582, -0.217169, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.198156, -0.207162, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.228223, -0.439136, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.123896, -0.108953, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.523481, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, -0.00143, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.192724, -0.017969, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.322557, -0.22881, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.102999, -0.200948, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.304797, -0.024247, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.14621, -0.300888, 0.0, 0.0, 0.0, 0.0, 0.0],
    ],
    [
        [0.0, -0.119922, -0.080088, 0.0, 0.0, 0.0, 0.0, 0.041517],
        [0.0, -0.055703, -0.059703, 0.0, 0.0, 0.0, 0.0, 0.472472],
        [0.0, -0.029988, -0.21757, 0.0, 0.0, 0.0, 0.0, 0.124969],
        [0.0, 0.378367, -0.015316, 0.0, 0.0, 0.0, 0.0, 0.468772],
        [0.0, 0.165009, -0.030428, 0.0, 0.0, 0.0, 0.0, 0.094734],
        [0.0, -0.218584, -0.085754, 0.0, 0.0, 0.0, 0.0, 0.231938],
        [0.0, 0.144906, -0.179849, 0.0, 0.0, 0.0, 0.0, 0.280709],
        [0.0, 0.047861, -0.233167, 0.0, 0.0, 0.0, 0.0, 0.527369],
        [0.0, 0.036145, -0.335261, 0.0, 0.0, 0.0, 0.0, 0.298441],
        [0.0, -0.133422, -0.217694, 0.0, 0.0, 0.0, 0.0, 0.380715],
        [0.0, -0.004682, -0.071051, 0.0, 0.0, 0.0, 0.0, 0.261147],
        [0.0, -0.310226, -0.012635, 0.0, 0.0, 0.0, 0.0, 0.492837],
        [0.0, -0.206479, -0.39922, 0.0, 0.0, 0.0, 0.0, 0.161618],
        [0.0, 0.124005, -0.077199, 0.0, 0.0, 0.0, 0.0, 0.396922],
        [0.0, 0.209519, -0.193532, 0.0, 0.0, 0.0, 0.0, 0.097355],
        [0.0, 0.316081, -0.037334, 0.0, 0.0, 0.0, 0.0, 0.251852],
    ],
    [
        [0.168511, -0.207452, 0.0, 0.0, 0.0, -0.106373, 0.008444, 0.0],
        [0.237266, -0.35772, 0.0, 0.0, 0.0, -0.044408, 0.004611, 0.0],
        [0.022469, -0.017277, 0.0, 0.0, 0.0, -0.042904, 0.006296, 0.0],
        [0.236692, -0.020458, 0.0, 0.0, 0.0, -0.250018, 0.0, 0.0],
        [0.064792, -0.247167, 0.0, 0.0, 0.0, -0.257302, 0.0, 0.0],
        [0.221336, -0.171211, 0.0, 0.0, 0.0, -0.264544, 0.003558, 0.0],
        [0.124634, -0.090665, 0.0, 0.0, 0.0, -0.067069, 0.004853, 0.0],
        [0.025489, -0.212027, 0.0, 0.0, 0.0, -0.031258, 0.0052, 0.0],
        [0.0653, -0.066733, 0.0, 0.0, 0.0, -0.346815, 0.003564, 0.0],
        [0.134626, -0.115083, 0.0, 0.0, 0.0, -0.176409, 0.0, 0.0],
        [0.369124, -0.147618, 0.0, 0.0, 0.0, -0.110643, 0.00411, 0.0],
        [0.352278, 0.0, 0.0, 0.0, 0.0, -0.018519, 0.079483, 0.0],
        [0.015997, -0.046216, 0.0, 0.0, 0.0, -0.205891, 0.007547, 0.0],
        [0.053082, -0.382088, 0.0, 0.0, 0.0, -0.111072, 0.006618, 0.0],
        [0.23986, -0.052418, 0.0, 0.0, 0.0, -0.033235, 0.001252, 0.0],
        [0.118881, -0.257788, 0.0, 0.0, 0.0, -0.475773, 0.0, 0.0],
    ],
    [
        [0.0, 0.023824, -0.024638, 0.0, 0.04367, 0.0, 0.0, 0.0],
        [0.0, 0.048598, 0.179701, 0.0, 0.206561, 0.0, 0.0, 0.0],
        [0.0, 0.297316, 0.415087, 0.0, 0.084479, 0.0, 0.0, 0.0],
        [0.0, 0.152628, 0.070102, 0.0, 0.0937, 0.0, 0.0, 0.0],
        [0.0, 0.150137, 0.280927, 0.0, 0.114159, 0.0, 0.0, 0.0],
        [0.0, 0.221658, -0.046714, 0.0, 0.21204, 0.0, 0.0, 0.0],
        [0.0, 0.063639, 0.194514, 0.0, 0.022, 0.0, 0.0, 0.0],
        [0.0, 0.108004, -0.051156, 0.0, 0.391766, 0.0, 0.0, 0.0],
        [0.0, 0.0621, -0.144057, 0.0, 0.204886, 0.0, 0.0, 0.0],
        [0.0, 0.095009, -0.279452, 0.0, 0.060228, 0.0, 0.0, 0.0],
        [0.0, 0.324774, -0.009439, 0.0, 0.029777, 0.0, 0.0, 0.0],
        [0.0, 0.123239, 0.208146, 0.0, 0.399282, 0.0, 0.0, 0.0],
        [0.0, 0.036056, 0.497237, 0.0, 0.011838, 0.0, 0.0, 0.0],
        [0.0, 0.236823, 0.138954, 0.0, 0.246858, 0.0, 0.0, 0.0],
        [0.0, 0.064146, 0.416368, 0.0, 0.19267, 0.0, 0.0, 0.0],
        [0.0, 0.299217, 0.217105, 0.0, 0.040421, 0.0, 0.0, 0.0],
    ],
    [
        [0.0, -0.046464, -0.183797, 0.0, -0.019612, -0.022222, 0.408807, 0.0],
        [0.0, -0.403117, -0.357181, 0.0, -0.241881, -0.105052, 0.135896, 0.0],
        [0.0, -0.235796, -0.508394, 0.0, -0.087435, -0.153672, 0.100125, 0.0],
        [0.0, -0.495661, -0.348667, 0.0, -0.080899, -0.144101, 0.087121, 0.0],
        [0.0, -0.298223, -0.105498, 0.0, -0.105435, -0.418454, 0.09925, 0.0],
        [0.0, -0.067605, -0.128441, 0.0, -0.162528, -0.058196, 0.063999, 0.0],
        [0.0, -0.303556, -0.119175, 0.0, -0.151236, -0.15909, 0.353891, 0.0],
        [0.0, -0.157896, -0.316802, 0.0, -0.140384, -0.073715, 0.072652, 0.0],
        [0.0, -0.136267, -0.290208, 0.0, -0.015883, -0.205373, 0.153723, 0.0],
        [0.0, -0.270889, -0.180781, 0.0, -0.367938, -0.128062, 0.130412, 0.0],
        [0.0, -0.334302, -0.142775, 0.0, -0.111025, -0.115682, 0.131735, 0.0],
        [0.0, -0.062566, -0.210446, 0.0, -0.17865, -0.097699, 0.286274, 0.0],
        [0.0, -0.362288, -0.288721, 0.0, -0.049364, -0.050409, 0.228657, 0.0],
        [0.0, -0.522205, -0.147248, 0.0, -0.152849, -0.07161, 0.053257, 0.0],
        [0.0, -0.143456, -0.444843, 0.0, -0.119719, -0.061058, 0.258657, 0.0],
        [0.0, -0.270822, -0.275665, 0.0, -0.10659, -0.239493, 0.110649, 0.0],
    ],
    [
        [0.0, 0.0, 0.0, -0.240862, 0.311256, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.192629, 0.171823, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.017497, 0.325548, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.319112, 0.015897, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.161231, 0.567645, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.168439, 0.028962, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.370082, 0.199613, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.182496, 0.439988, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, 0.0, 0.199049, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.058685, 0.737648, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.128342, 0.314841, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.036872, 0.416421, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.358455, 0.434014, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.05376, 0.079262, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.090481, 0.210514, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.0, -0.01986, 0.521918, 0.0, 0.0, 0.0],
    ],
    [
        [0.0, 0.0, 0.221575, 0.0, 0.0, 0.0, 0.0, 0.125424],
        [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 0.468041, 0.0, 0.0, 0.0, 0.0, 0.113474],
        [0.0, 0.0, 0.068911, 0.0, 0.0, 0.0, 0.0, 0.302931],
        [0.0, 0.0, 0.196471, 0.0, 0.0, 0.0, 0.0, 0.015151],
        [0.0, 0.0, 0.316171, 0.0, 0.0, 0.0, 0.0, 0.017386],
        [0.0, 0.0, 0.145876, 0.0, 0.0, 0.0, 0.0, 0.202787],
        [0.0, 0.0, 0.387298, 0.0, 0.0, 0.0, 0.0, 0.516398],
        [0.0, 0.0, 0.013846, 0.0, 0.0, 0.0, 0.0, 0.20896],
        [0.0, 0.0, 0.023454, 0.0, 0.0, 0.0, 0.0, 0.469433],
        [0.0, 0.0, 0.12556, 0.0, 0.0, 0.0, 0.0, 0.120766],
        [0.0, 0.0, 0.341007, 0.0, 0.0, 0.0, 0.0, 0.15366],
        [0.0, 0.0, 0.028626, 0.0, 0.0, 0.0, 0.0, 0.101641],
        [0.0, 0.0, 0.236016, 0.0, 0.0, 0.0, 0.0, 0.263816],
        [0.0, 0.0, 0.188186, 0.0, 0.0, 0.0, 0.0, 0.426425],
        [0.0, 0.0, 0.114546, 0.0, 0.0, 0.0, 0.0, 0.021494],
    ],
]


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = 7,
    max_iter: int = 20,
    round_digits: int = 6,
    dim: int = PQ_DIM,
) -> list[list[list[float]]]:
    """Train per-subspace KMeans codebooks. Returns
    ``codebooks[m][c][j]`` rounded for literal embedding. m fits run
    sequentially, each over the (n x dim/m) subvector relation —
    training cost is the corpus scan x m; at true scale fit on a
    hash-sample (codebooks are statistics, not indexes)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub = dim // m
    sub_d = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    out: list[list[list[float]]] = []
    for mi in range(m):
        sv = sub_d.select(
            array_to_vector(F.slice(F.col("v"), mi * sub + 1, sub)).alias(
                "features"
            )
        )
        model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(sv)
        out.append(
            [
                [round(float(x), round_digits) for x in center]
                for center in model.clusterCenters()
            ]
        )
    return out


def _dist_expr(sv: F.Column, cent: F.Column) -> F.Column:
    """Squared L2 between two equal-length arrays, fixed-order fold,
    rounded to 6 — the cross-engine-exact distance every PQ decision
    uses."""
    return F.round(
        F.aggregate(
            F.zip_with(sv, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _codebook_dim(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(m, c, cent) — the codebooks as a broadcastable m x k-row dim.
    Expressing the codebooks as DATA instead of literal expression
    trees matters: the literal form put ~m x k x sub Literal nodes into
    every plan, and Catalyst/codegen compile time (seconds, data-size-
    independent) dominated the whole query. The dim join runs the same
    arithmetic with a plan of constant size."""
    rows = [
        (mi, ci, [float(x) for x in cent])
        for mi, cents in enumerate(codebooks)
        for ci, cent in enumerate(cents)
    ]
    return df.sparkSession.createDataFrame(rows, "m long, c long, cent array<double>")


def _subvectors(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    out_id: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry...,] m, sv) — one row per (vector, subspace),
    map-only explode. ``carry`` columns ride along unchanged (the
    fused bucket+code pass uses it to keep the IVF bucket on the
    row)."""
    v = F.col(vec_col).cast("array<double>")
    sub = len(codebooks[0][0])
    parts = F.array(
        *[
            F.struct(
                F.lit(mi).cast("long").alias("m"),
                F.slice(v, mi * sub + 1, sub).alias("sv"),
            )
            for mi in range(len(codebooks))
        ]
    )
    name = out_id or id_col
    carry_cols = [F.col(c) for c in carry]
    return df.select(
        F.col(id_col).alias(name), *carry_cols, F.explode(parts).alias("__s")
    ).select(
        name, *carry_cols, F.col("__s.m").alias("m"), F.col("__s.sv").alias("sv")
    )


def pq_assign_long(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry...,] m, code) — one row per subspace, each vector
    snapped to its nearest centroid (round-6 distance, centroid-index
    tie-break via a lexicographic min over (d, c) structs). The
    codebooks ride a broadcast dim join (see ``_codebook_dim``);
    per-vector cost is the inherent m x k x sub multiplies. The long
    form is what ADC joins consume, ``pq_assign`` pivots it for humans.
    ``carry`` columns pass through untouched — the seam that lets
    ``ivfpq_store`` keep the IVF bucket on the row and
    derive (bucket, id, m, code) in ONE map-only corpus pass instead
    of shuffle-joining two separate corpus derivations (r12)."""
    # collapse the dim to ONE row per subspace (m, [(c, cent), ...]) so
    # assignment stays MAP-ONLY: broadcast join on m, then an argmin
    # HOF over the k-element centroid array — no groupBy shuffle
    cbm = (
        _codebook_dim(df, codebooks)
        .groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("c", "cent"))).alias("cents"))
    )
    sub = _subvectors(df, codebooks, id_col, vec_col, carry=carry)
    scored = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            _dist_expr(F.col("sv"), s.getField("cent")).alias("d"),
            s.getField("c").alias("c"),
        ),
    )
    return sub.join(F.broadcast(cbm), "m").select(
        id_col, *carry, "m", F.array_min(scored).getField("c").alias("code")
    )


def pq_distortion(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace quantization-health audit: (m, n_vecs,
    total_sqdist_micro) — the summed squared distance between each
    subvector and its assigned centroid, in exact integer micro-units
    (6-rounded distances x 1e6, so the oracle replays bit-for-bit; emit
    sums not means — cross-engine mean rounding can tie, the
    ``quality_score`` lesson).

    This is the PQ counterpart of ``ivf_refit_decision``: k-means cost
    IS the codebook-fit objective, so a rising total under a drifting
    corpus is the evidence that ``fit_pq_codebooks`` should re-run —
    the audit a maintenance cron trends per index epoch. Same map-only
    shape as assignment (broadcast codebook dim, argmin HOF, one
    |m|-row aggregation); cost is one corpus scan.
    """
    cbm = (
        _codebook_dim(df, codebooks)
        .groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("c", "cent"))).alias("cents"))
    )
    sub = _subvectors(df, codebooks, id_col, vec_col)
    scored = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            _dist_expr(F.col("sv"), s.getField("cent")).alias("d"),
            s.getField("c").alias("c"),
        ),
    )
    return (
        sub.join(F.broadcast(cbm), "m")
        .select("m", F.array_min(scored).getField("d").alias("__d"))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.round(F.col("__d") * 1_000_000).cast("long")).alias(
                "total_sqdist_micro"
            ),
        )
    )


def pq_assign(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..code_{m-1}) — the compressed index relation (4-bit
    codes; the 100 TB artifact). One conditional-agg pivot over the
    long form."""
    long = pq_assign_long(df, codebooks, id_col, vec_col)
    aggs = [
        F.max(F.when(F.col("m") == mi, F.col("code"))).alias(f"code_{mi}")
        for mi in range(len(codebooks))
    ]
    return long.groupBy(id_col).agg(*aggs)


def pq_adc_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 3,
) -> DataFrame:
    """ADC top-k: for each query (``id < n_queries``, the corpus-query
    convention shared with ``cosine_topk``), rank corpus vectors by the
    SUM of per-subspace distances between the query subvector and the
    corpus vector's ASSIGNED CENTROID — the quantized distance, m
    lookups per candidate. Output: (query_id, neighbor_id,
    adist_micro, rank); self-matches excluded.

    Plan: the code relation (n x m rows) joins the |queries| x m x k
    distance-table dim (BROADCAST — it is tiny by construction), one
    grouped sum per (query, vector), then a rank window partitioned by
    query — parallel across queries, never a global sort.
    """
    codes = pq_assign_long(df, codebooks, id_col, vec_col)
    v = F.col(vec_col).cast("array<double>")
    q = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), v.alias("qv")
    )
    tab = _adc_tables(q, codebooks)
    # per-subspace distances are round-6 doubles; lift to exact integer
    # micro-units BEFORE summing so partitioning/merge order cannot move
    # the total by an ulp — adist_micro is BIGINT, hash-risk-free
    adist = (
        codes.join(F.broadcast(tab), ["m", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.round(F.col("d") * 1_000_000).cast("long")).alias(
                "adist_micro"
            )
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist_micro"), F.col(id_col))
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "adist_micro", "rank"
        )
    )


def _adc_tables(q: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(query_id, m, code, d) — per-query distance tables against every
    centroid; |queries| x m x k rows, always broadcast-sized. ``q`` is
    (query_id, qv array<double>). Same dim-join formulation as
    ``pq_assign_long`` (constant-size plan)."""
    cb = _codebook_dim(q, codebooks)
    sub = _subvectors(q, codebooks, "query_id", "qv")
    return sub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        F.col("c").alias("code"),
        _dist_expr(F.col("sv"), F.col("cent")).alias("d"),
    )


def ivfpq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """The classic IVF-PQ layout (Jégou et al. §V): the IVF coarse
    quantizer prunes to ``nprobe`` buckets' candidates, then the PQ
    codes rank them by ADC distance — at 100 TB the query never
    touches a float vector outside its own distance tables: bucket
    membership and 4-bit codes are the entire hot index.

    Output: (query_id, neighbor_id, adist_micro, rank), k per query.

    Plan: two corpus passes — the bucket argmax and the PQ code argmin
    — joined on the id, with the probes broadcast onto the bucket leg.
    The r13 interleaved A/B measured this shape against a fused
    bucket+code pass behind a broadcast semi-join on the probed-bucket
    union, and it won or tied at every generated size (``ivfpq_topk``
    sf0.1 2.45 vs 2.71 s, x10 13.3 vs 14.6 s, x100 126.6 vs 145.8 s):
    at this query's fixed nlist the probes cover nearly every bucket,
    so there is nothing for the semi-join to prune. The fused pass pays
    off only when the probed fraction is small, i.e. at a deployment
    nlist over a prebuilt index — ``ivfpq_store``/``ivfpq_query_store``
    (the sqrt-n arm in tools/bench_scale_decade.py measures that).
    """
    from sarkac_spark.operators.similarity import assign_buckets

    queries = df.filter(F.col(id_col) < n_queries)
    corpus_b = assign_buckets(df, centroids, id_col, vec_col, n_best=1).select(
        F.col(id_col), F.col("bucket")
    )
    probes = assign_buckets(
        queries, centroids, id_col, vec_col, n_best=nprobe
    ).select(F.col(id_col).alias("query_id"), "bucket")
    # no distinct needed: each corpus vector lives in exactly ONE
    # bucket (n_best=1) and a query's probed buckets are distinct,
    # so a (query, candidate) pair can only arise once
    cand = (
        corpus_b.join(F.broadcast(probes), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )
    codes = pq_assign_long(df, codebooks, id_col, vec_col)
    cand_codes = cand.join(codes, id_col).select("query_id", id_col, "m", "code")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    tab = _adc_tables(q, codebooks)
    adist = (
        cand_codes.join(F.broadcast(tab), ["query_id", "m", "code"])
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.round(F.col("d") * 1_000_000).cast("long")).alias(
                "adist_micro"
            )
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist_micro"), F.col(id_col))
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "adist_micro", "rank"
        )
    )


def pq_rerank_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    shortlist: int = 20,
    k: int = 3,
) -> DataFrame:
    """Two-stage retrieval (the standard PQ deployment): the quantized
    ADC ranking shortlists ``shortlist`` candidates per query, then the
    EXACT L2 distance re-ranks only those — full-precision math touches
    shortlist x |queries| vectors instead of the corpus, recovering
    most of the recall the 4-bit codes gave up for ~zero extra cost.

    Output: (query_id, neighbor_id, dist, rank), k per query; ``dist``
    is the exact round-6 squared L2.

    Plan: stage 1 is ``pq_adc_topk`` (broadcast tables + per-query rank
    window); stage 2 joins the shortlist (|queries| x shortlist rows —
    broadcast-sized by construction) back to the corpus vectors ONCE,
    computes shortlist x 1 exact distances, and ranks inside each query
    partition.
    """
    short = pq_adc_topk(
        df, codebooks, id_col, vec_col, n_queries=n_queries, k=shortlist
    ).select("query_id", "neighbor_id")
    v = F.col(vec_col).cast("array<double>")
    q = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), v.alias("qv")
    )
    cand = short.join(
        df.select(F.col(id_col).alias("neighbor_id"), v.alias("nv")),
        "neighbor_id",
    ).join(F.broadcast(q), "query_id")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _dist_expr(F.col("qv"), F.col("nv")).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def ivfpq_store(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PERSISTENT inverted-list IVF-PQ index relation: (bucket, id,
    m, code) — each vector's coarse bucket plus its m PQ codes, i.e.
    exactly what ``ivfpq_topk`` derives on the fly, materialized once.
    Write it partitioned by ``bucket`` and the query side
    (``ivfpq_query_store``) scans only the probed partitions.

    This is the 100 TB operating shape: the registered ``ivfpq_topk``
    query re-derives the index per run (which keeps it oracle-checkable
    and self-contained), but a production index is BUILT once — or
    incrementally, by ``streaming/ivf_maintenance.py`` — and queried
    many times; build cost (one corpus scan x |centroids| argmax +
    m x k assignment) amortizes across every query. With the standard
    nlist ~ sqrt(n) sizing, per-query probed work grows ~sqrt(n)
    instead of linearly (measured: tools/bench_scale_decade.py
    --scaled-nlist, BASELINE.md §d)."""
    from sarkac_spark.operators.similarity import assign_buckets

    # fused bucket+code pass: ONE corpus scan, no corpus-sized
    # shuffle join re-attaching codes to buckets
    return pq_assign_long(
        assign_buckets(df, centroids, id_col, vec_col, n_best=1),
        codebooks,
        id_col,
        "vec",
        carry=("bucket",),
    ).select("bucket", id_col, "m", "code")


def ivfpq_query_store(
    store: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """ADC top-k over a MATERIALIZED ``ivfpq_store`` relation — the
    query path that never touches a raw corpus vector OR rebuilds the
    index. Same output contract as ``ivfpq_topk``: (query_id,
    neighbor_id, adist_micro, rank), k per query; result-identical to
    ``ivfpq_topk`` on the same corpus/queries/centroids (pinned in
    tests/test_pq.py).

    The probed bucket ids are collected to the driver —
    nprobe x |queries| values, tens of rows, bounded by contract (the
    ``ivf_refit_decision`` 1-row-collect precedent) — and applied as
    an ``isin`` literal filter, so a bucket-partitioned parquet
    store PRUNES to the probed partitions at the scan: bytes read are
    ~nprobe/nlist of the index, the whole point of IVF at 100 TB."""
    from sarkac_spark.operators.similarity import assign_buckets

    probes = assign_buckets(
        queries, centroids, id_col, vec_col, n_best=nprobe
    ).select(F.col(id_col).alias("query_id"), "bucket")
    probed = [r.bucket for r in probes.select("bucket").distinct().collect()]
    store = store.filter(F.col("bucket").isin(probed))
    cand = (
        store.join(F.broadcast(probes), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, "m", "code")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    tab = _adc_tables(q, codebooks)
    adist = cand.join(F.broadcast(tab), ["query_id", "m", "code"]).groupBy(
        "query_id", id_col
    ).agg(
        F.sum(F.round(F.col("d") * 1_000_000).cast("long")).alias("adist_micro")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist_micro"), F.col(id_col))
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "adist_micro", "rank"
        )
    )
