// Differential-test harness: runs the ACTUAL reference implementation
// on cases piped via stdin and prints JSON results. Used only by tests
// to pin the Python oracle to real reference behavior — no reference
// code is copied.
//
// stdin:  JSON [{haystack, needle, opts?, outOfOrder?, infoThresh?}, ...]
//         or [{collate: [[a, b], ...]}, ...]
// stdout: JSON [{idxs, info?, order?}, ...]   (info without fn fields)
//         or [{cmp: [sign, ...]}, ...]
//
// Collate cases need only node: they are answered by node's own
// Intl.Collator. Search cases need the reference build, REF_BUILD (the
// read-only uFuzzy checkout next to this repo, reference/dist/
// uFuzzy.cjs), loaded on the first search case. A missing build fails
// the whole run (MODULE_NOT_FOUND, exit 1) on purpose: reported per case
// as {error} it would read as a reference crash, which the fuzz test
// skips, so the run would pass having compared nothing.

const path = require('path');

const REF_BUILD = path.join(__dirname, '..', '..', 'reference', 'dist', 'uFuzzy.cjs');
let uFuzzy = null;

const plainCmp = (a, b) => (a > b ? 1 : a < b ? -1 : 0);

let input = '';
process.stdin.on('data', (d) => (input += d));
process.stdin.on('end', () => {
  const cases = JSON.parse(input);
  const out = cases.map((c) => {
    // collate mode: pin the oracle's Intl.Collator('en',
    // {numeric, base}) approximation (uFuzzy.mjs:18,151) — returns
    // the sign of compare(a, b) per pair
    if (c.collate) {
      const coll = new Intl.Collator('en', { numeric: true, sensitivity: 'base' });
      return { cmp: c.collate.map(([a, b]) => Math.sign(coll.compare(a, b))) };
    }
    // outside the try below: a missing build must end the run
    uFuzzy = uFuzzy || require(REF_BUILD);
    const opts = Object.assign({}, c.opts || {});
    if (opts.compare === 'plain') opts.compare = plainCmp;
    if (opts.interIns === 'inf') opts.interIns = Infinity;
    try {
      const uf = new uFuzzy(opts);
      const [idxs, info, order] = uf.search(
        c.haystack,
        c.needle,
        c.outOfOrder || 0,
        c.infoThresh == null ? 1e3 : c.infoThresh
      );
      return { idxs, info: info || null, order: order || null };
    } catch (e) {
      // the reference itself can throw (e.g. uFuzzy.mjs:574 compiles
      // the raw term unescaped: quoted exacts containing regex
      // metachars crash under interLft/Rgt=1). Surface it so the
      // Python side can record the divergence instead of dying.
      return { error: String(e && e.message ? e.message : e) };
    }
  });
  process.stdout.write(JSON.stringify(out));
});
