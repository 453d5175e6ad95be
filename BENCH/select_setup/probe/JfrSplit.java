import java.nio.file.Path;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordedStackTrace;
import jdk.jfr.consumer.RecordingFile;

/**
 * Splits the CPU samples of the HTTP handler threads (graft-http-*) in a JFR
 * recording into the driver work a small select pays for. Each sample goes
 * to the first category, in the order below, that has a frame anywhere in
 * its stack; a sample with none is "other". Prints one JSON object: the
 * sample count and each category's count and share.
 *
 * With --call-site, each sample goes instead to the frame that
 * GraftHttpServer.respond called on its way to the sample (the method the
 * sample spent its time under, one level below respond), or to "respond"
 * when respond itself was on top, or to "outside respond".
 *
 * Run: java JfrSplit.java [--call-site] <recording.jfr>
 */
public class JfrSplit {
    /** category name, then the frame-name prefixes that put a sample in it */
    static final String[][] CATEGORIES = {
        {"kernel", "graft.query.MatchKernel", "graft.query.TermCursor"},
        {"closure_cleaner", "org.apache.spark.util.ClosureCleaner",
            "org.apache.spark.util.SparkClosureCleaner"},
        {"encoder_derivation", "org.apache.spark.sql.catalyst.ScalaReflection",
            "org.apache.spark.sql.catalyst.encoders.ExpressionEncoder$.apply",
            "org.apache.spark.sql.catalyst.encoders.ExpressionEncoder.<init>",
            "org.apache.spark.sql.catalyst.encoders.ExpressionEncoder$.tuple",
            "org.apache.spark.sql.Encoders$.product",
            "org.apache.spark.sql.catalyst.encoders.package$.encoderFor"},
        {"codegen", "org.apache.spark.sql.catalyst.expressions.codegen."},
        {"conf_broadcast", "org.apache.spark.SparkContext.broadcast"},
        {"analyzer", "org.apache.spark.sql.catalyst.analysis."},
        {"optimizer", "org.apache.spark.sql.catalyst.optimizer.",
            "org.apache.spark.sql.execution.SparkOptimizer"},
        {"physical_planning", "org.apache.spark.sql.execution.QueryExecution$.createSparkPlan",
            "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution",
            "org.apache.spark.sql.catalyst.planning.QueryPlanner"},
        {"job_submit", "org.apache.spark.SparkContext.runJob"},
    };

    static String category(RecordedStackTrace st) {
        List<RecordedFrame> frames = st.getFrames();
        for (String[] c : CATEGORIES) {
            for (RecordedFrame f : frames) {
                String name = frameName(f);
                for (int i = 1; i < c.length; i++) {
                    if (name.startsWith(c[i])) return c[0];
                }
            }
        }
        return "other";
    }

    /** respond is private and called from the server's handler class, so
     *  scalac may emit it under the expanded name ...$$respond */
    static boolean isRespond(RecordedFrame f) {
        String m = f.getMethod().getName();
        return f.getMethod().getType().getName().equals("graft.server.GraftHttpServer")
            && (m.equals("respond") || m.endsWith("$$respond"));
    }

    static String frameName(RecordedFrame f) {
        return f.getMethod().getType().getName() + "." + f.getMethod().getName();
    }

    static String callSite(RecordedStackTrace st) {
        List<RecordedFrame> frames = st.getFrames(); // the top frame first
        for (int i = 0; i < frames.size(); i++) {
            if (isRespond(frames.get(i))) {
                return i == 0 ? "respond" : frameName(frames.get(i - 1));
            }
        }
        return "outside respond";
    }

    public static void main(String[] args) throws Exception {
        boolean bySite = args[0].equals("--call-site");
        String file = args[args.length - 1];
        Map<String, Long> counts = new LinkedHashMap<>();
        if (!bySite) {
            for (String[] c : CATEGORIES) counts.put(c[0], 0L);
            counts.put("other", 0L);
        }
        long total = 0, truncated = 0;
        try (RecordingFile rf = new RecordingFile(Path.of(file))) {
            while (rf.hasMoreEvents()) {
                RecordedEvent e = rf.readEvent();
                if (!e.getEventType().getName().equals("jdk.ExecutionSample")) continue;
                String thread = e.getThread("sampledThread").getJavaName();
                if (thread == null || !thread.startsWith("graft-http-")) continue;
                RecordedStackTrace st = e.getStackTrace();
                if (st == null) continue;
                if (st.isTruncated()) truncated++;
                counts.merge(bySite ? callSite(st) : category(st), 1L, Long::sum);
                total++;
            }
        }
        StringBuilder out = new StringBuilder();
        out.append("{\"samples\":").append(total).append(",\"truncated\":").append(truncated);
        List<Map.Entry<String, Long>> entries = new java.util.ArrayList<>(counts.entrySet());
        if (bySite) entries.sort(Map.Entry.<String, Long>comparingByValue().reversed());
        for (Map.Entry<String, Long> c : entries) {
            out.append(String.format(",\"%s\":{\"n\":%d,\"share\":%.4f}", c.getKey(), c.getValue(),
                total == 0 ? 0.0 : c.getValue() / (double) total));
        }
        System.out.println(out.append("}"));
    }
}
